"""Token-budget document packing — group documents into training bins.

The step between curation and training: batch documents so each bin's
token total stays under the sequence budget. Exact global bin packing
is NP-hard and needs total order; the distributed-scale answer is
greedy first-fit WITHIN each partition (zero shuffle — a pure
mapInPandas pass whose iterator carries the open bin across Arrow
batches of the partition), with bin ids globalized by encoding the
partition id in the high bits. Packing efficiency loss vs global
greedy is bounded by one underfull bin per partition — negligible when
partitions hold thousands of documents, which is exactly the 100 TB
regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["pack_documents", "assemble_packed_text", "shard_by_budget"]


def pack_documents(
    sdf: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Assign each document a bin id such that every bin's
    ``token_col`` sum is <= ``budget`` (a document larger than the
    budget gets a bin of its own). Returns (id, tokens, bin).

    Deterministic for a fixed input partitioning (same files -> same
    bins); repartition first if a specific document order is wanted.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")

    # Keep the id column's real type — document ids are often strings.
    id_type = sdf.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `{token_col}` long, `{bin_col}` long"

    def fn(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = pid << 40
        local_bin = 0
        used = 0
        opened = False
        for pdf in batches:
            bins = []
            for t in pdf[token_col].astype("int64"):
                if not opened:
                    opened = True
                elif used + t > budget:
                    local_bin += 1
                    used = 0
                used += int(t)
                bins.append(base + local_bin)
            out = pdf[[id_col, token_col]].copy()
            out[token_col] = out[token_col].astype("int64")
            out[bin_col] = bins
            yield out

    return sdf.select(id_col, token_col).mapInPandas(fn, out_schema)


def shard_by_budget(
    sdf: DataFrame,
    order_by,
    weight_col: str,
    budget: int,
    shard_col: str = "shard",
) -> DataFrame:
    """Assign contiguous token-budget SHARDS over a global order — the
    output-file side of the packing family: write N training shards of
    ~``budget`` tokens each (``df.write.partitionBy(shard_col)`` after
    this), preserving corpus order within and across shards.

    Semantics: ``shard = floor(exclusive_prefix_sum(weight) / budget)``
    — budget slicing of the running total, not a per-shard greedy
    reset, so a shard can exceed the budget by at most one document's
    weight and the assignment is a pure function of the order (exactly
    reproducible in SQL, no sequential state). Distinct from
    ``pack_documents`` (many small bins <= budget for sequence
    assembly); shards are few and large, for file layout.

    Plan: the windowless bucket cumsum (operators/ranking — one
    balanced range exchange + driver prefix carry of bucket sums, no
    single-partition window), then one projection. Scales like every
    other global-order op here.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .ranking import with_global_cumagg

    # the documented floor(exclusive_prefix_sum / budget) semantics
    # hold only for integral weights — a fractional weight would be
    # silently truncated by the BIGINT casts below (ADVICE r3); make
    # the caller cast explicitly so the rounding policy is theirs
    wtype = sdf.schema[weight_col].dataType
    if not isinstance(
        wtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"shard_by_budget weight column {weight_col!r} must be an "
            f"integral type, got {wtype.simpleString()} — cast it first "
            "(e.g. F.round(w).cast('long')) so fractional token counts "
            "aren't silently truncated"
        )
    wq = "`" + weight_col.replace("`", "``") + "`"
    cum = with_global_cumagg(
        sdf, list(order_by), [(weight_col, "sum", "__cum__")]
    )
    # integer DIV: exact at any cumsum magnitude (float floor would
    # misplace shard boundaries past 2^53 total tokens)
    shard = F.expr(
        f"CAST((CAST(__cum__ AS BIGINT) - CAST({wq} AS BIGINT)) "
        f"DIV {int(budget)} AS BIGINT)"
    )
    return cum.withColumn(shard_col, shard).drop("__cum__")


def assemble_packed_text(
    docs: DataFrame,
    packed: DataFrame,
    id_col: str,
    text_col: str,
    bin_col: str = "bin_id",
    eos: str = "<|eos|>",
) -> DataFrame:
    """Materialize training sequences from a packing assignment: join
    texts onto (id, bin) and concatenate each bin's documents in id
    order with ``eos`` between them. Returns (bin, n_docs, text).

    One join on the id + one hash aggregation on the bin id; the
    in-bin ordered concat is a sort_array over (id, text) structs —
    bins are budget-bounded, so the per-group array is model-context
    sized by construction, never corpus-sized.
    """
    from pyspark.sql import functions as F

    joined = packed.join(
        docs.select(id_col, text_col), id_col
    )
    pair = F.struct(F.col(id_col).alias("i"), F.col(text_col).alias("t"))
    return (
        joined.groupBy(bin_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(pair)), lambda s: s["t"]
                ),
                eos,
            ).alias("text"),
        )
    )
