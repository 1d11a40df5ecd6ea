"""Deduplication operators — exact and near-duplicate.

No reference analog (eland has no dedup surface); these are the
training-data-pipeline extensions, designed shuffle-minimal:

- exact: hash-groupBy keep-one (one shuffle on the dedup key)
- minhash LSH: shingle -> minhash -> band buckets -> within-bucket join
  (candidate pairs only; never all-pairs)
- simhash: 64-bit weighted-token fingerprint, hamming-radius grouping
- ngram jaccard: verification metric on candidate pairs

All token/shingle work stays in built-in expressions (split, transform,
hash, xxhash64) — no Python UDF in the hot path.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from ..frame import DataFrame


def drop_duplicates(df: "DataFrame", subset=None, keep: str = "first"):
    """Exact dedup. keep='first' keeps the lowest index value per group
    (deterministic, unlike raw dropDuplicates) via min_by over a single
    hash-shuffle; keep=False drops all duplicated rows."""
    from ..frame import DataFrame as EDF

    schema = df._schema
    cols = [schema.resolve(c) for c in (subset or schema.display_names)]
    if not schema.index_cols:
        return EDF(df._sdf.dropDuplicates(cols), schema)
    order = [F.col(c).asc() if keep != "last" else F.col(c).desc() for c in schema.index_cols]
    w = Window.partitionBy(*[F.col(c) for c in cols]).orderBy(*order)
    ranked = df._sdf.withColumn("__rn__", F.row_number().over(w))
    if keep is False:
        counted = df._sdf.withColumn(
            "__cnt__", F.count(F.lit(1)).over(Window.partitionBy(*[F.col(c) for c in cols]))
        )
        return EDF(counted.filter(F.col("__cnt__") == 1).drop("__cnt__"), schema)
    return EDF(ranked.filter(F.col("__rn__") == 1).drop("__rn__"), schema)


def connected_components(
    pairs,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    driver_fold_max_edges: int = 200_000,
):
    """Group near-duplicate pairs into clusters via alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). Returns a Spark
    DataFrame ``(node, component)`` where ``component`` is the
    cluster's minimum node id — the canonical representative a dedup
    pipeline keeps.

    Each round rewires every node toward the minimum of its
    neighborhood (large-star: strictly larger neighbors hook to the
    min; small-star: smaller neighbors collapse onto it), which
    contracts chain-shaped components geometrically — convergence in
    O(log n) rounds regardless of graph diameter, unlike min-label
    propagation's O(diameter). A 10k-node path (diameter 9999)
    converges in 14 rounds (see ``tests/test_simhash_dedup.py`` chain
    stress test); the default ``max_iter`` covers ~1M-long chains, and
    real near-dup clusters (dense, shallow) finish in 2-3. Per round:
    two groupBy-min + two joins, all hash-shuffled on the node id;
    ``localCheckpoint`` truncates the growing lineage and a count+hash
    fingerprint (one tiny job per round) detects the fixed point.

    ``driver_fold_max_edges``: when the INPUT pair frame itself is
    within the bound (checked with one ``limit(bound+1).collect()``
    over the checkpointed edges — near-dup pair sets are small next to
    the corpus by construction), the whole labeling is one driver
    union-find returning a local (node, component) frame: zero
    contraction rounds, zero distributed joins, and the final plan
    reads nothing (r9 opt — the old mid-loop-only fold still paid
    round 1's ~6-shuffle wave AND re-executed the full pair pipeline
    for ``nodes`` at action time, ~1.1 s at sf0.1). Larger graphs run
    the contraction loop; the per-round fingerprint reports the
    contracted edge count, and once it falls under the bound the
    remaining contraction is finished with the same driver union-find
    over the current (already-checkpointed) edges + one broadcast
    join. Star contraction preserves components and their min labels,
    so every path computes the IDENTICAL labeling (pinned by test).
    ``0`` disables both folds — the unbounded distributed path, which
    large graphs take automatically because their edge count stays
    over the bound through the geometric shrink.
    """
    e0 = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    tu, tv = (f.dataType for f in e0.schema.fields)
    if tu != tv:
        # node and component values come from both sides: widen both to
        # the type unionByName gives `nodes` below, so the driver fold's
        # local frame and the distributed path share one schema
        common = e0.select("u").unionByName(
            e0.select(F.col("v").alias("u"))
        ).schema[0].dataType
        e0 = e0.select(
            F.col("u").cast(common).alias("u"), F.col("v").cast(common).alias("v")
        )
    e0 = e0.filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    # one materialization of the (expensive) pair pipeline serves the
    # bound probe, the node set, and round 1's two edge references —
    # without it, `nodes` re-executed the whole pipeline at action time
    e0 = e0.localCheckpoint(eager=False)
    if driver_fold_max_edges:
        head = e0.limit(int(driver_fold_max_edges) + 1).collect()
        if len(head) <= driver_fold_max_edges:
            parent: dict = {}

            def _find0(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            seen = set()
            for r in head:
                u, v = r[0], r[1]
                seen.add(u)
                seen.add(v)
                if u == v:
                    continue
                ru, rv = _find0(u), _find0(v)
                if ru != rv:
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
            labels = sorted((n, _find0(n)) for n in seen)
            # broadcast hint: the local frame has no stats (LogicalRDD
            # defaults to a huge size estimate), so a downstream
            # corpus join would pick sort-merge and shuffle the corpus;
            # the frame is bounded by driver_fold_max_edges (<= a few
            # MB), always broadcast-safe
            return F.broadcast(
                e0.sparkSession.createDataFrame(
                    labels,
                    schema=e0.select(
                        F.col("u").alias("node"),
                        F.col("v").alias("component"),
                    ).schema,
                )
            )
    nodes = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
    )
    edges = e0.filter(F.col("u") != F.col("v")).distinct()

    def _fingerprint(e):
        # xor-fold (not sum) — order-free and immune to ANSI long overflow
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iter):
        # large-star: for each node u, every strictly LARGER neighbor v
        # re-links to m = min(neighborhood(u) + {u})
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient every edge (hi, lo); each hi node and all
        # its smaller neighbors collapse onto the neighborhood min
        e2 = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = e2.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            e2.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)  # truncate the growing lineage
        )
        fp = _fingerprint(edges)
        if fp == prev:
            break
        prev = fp
        if driver_fold_max_edges and fp[0] <= driver_fold_max_edges:
            # bounded driver finish: union-find over the contracted
            # edges (collected from the checkpoint the fingerprint just
            # materialized — no recompute), labels = component min.
            # Identical to the loop's fixed point; skips the remaining
            # rounds' job waves.
            rows = edges.collect()
            parent: dict = {}

            def _find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                ru, rv = _find(r["u"]), _find(r["v"])
                if ru != rv:
                    # union by MIN so every root is its component's min
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
            labels = [(x, _find(x)) for x in parent]
            if labels:
                spark = edges.sparkSession
                star = spark.createDataFrame(
                    labels, schema=edges.select("u", "v").schema
                ).select(
                    F.col("u"), F.col("v").alias("component")
                ).where(F.col("u") != F.col("component"))
                star = F.broadcast(star)
            else:
                star = edges.groupBy("u").agg(
                    F.min("v").alias("component")
                )
            return nodes.join(
                star.withColumnRenamed("u", "node"), on="node", how="left"
            ).select(
                "node",
                F.coalesce(F.col("component"), F.col("node")).alias(
                    "component"
                ),
            )
    # fixed point = forest of stars (node -> component min); roots and
    # isolated nodes label themselves
    star = edges.groupBy("u").agg(F.min("v").alias("component"))
    return nodes.join(
        star.withColumnRenamed("u", "node"), on="node", how="left"
    ).select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


def near_dup_components(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_iter: int = 10,
    portable: bool = False,
):
    """End-to-end near-dup clustering: MinHash candidate pairs above
    ``threshold`` -> connected components. Returns (node, component);
    keep ``node == component`` rows for a canonical-representative
    dedup policy. ``portable=True`` switches the shingle hash to md5
    (see :func:`minhash_signatures`) so the whole pipeline — pairs AND
    the component labeling — is reproducible in plain SQL (the driver
    oracle closes the pair set with a recursive CTE)."""
    pairs = minhash_candidate_pairs(
        df, text_col, id_col, k, num_hashes, bands, portable=portable
    )
    return connected_components(
        pairs.filter(F.col("est_jaccard") >= threshold), max_iter=max_iter
    )


def near_dup_keep_best(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    score_col: str,
    threshold: float = 0.7,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_iter: int = 10,
    portable: bool = False,
):
    """Near-dup dedup with a QUALITY-KEEP policy: cluster near-dups
    (MinHash pairs -> connected components) and keep, per cluster, the
    row with the highest ``score_col`` (ties -> lowest id; numeric id
    required for the deterministic tie-break). Unpaired rows keep
    themselves. The practical finisher for training corpora — "of the
    near-identical copies, keep the longest / cleanest one", not just
    the lowest id.

    Plan: component labels exist only for PAIRED nodes (small next to
    the corpus), left-joined back; the winner per cluster is one
    max_by hash aggregation on the cluster label, then a semi-join of
    the winner ids — two bounded shuffles beyond the clustering
    itself, no windows over the corpus.
    """
    from ..frame import DataFrame as EDF

    schema = df._schema
    idc = F.col(schema.resolve(id_col))
    if not schema.field(id_col).is_numeric:
        raise ValueError("near_dup_keep_best needs a numeric id column")
    comp = near_dup_components(
        df, text_col, id_col, threshold, k, num_hashes, bands, max_iter,
        portable=portable,
    )
    labeled = (
        df._sdf.withColumn("__node__", idc)
        .join(
            comp.withColumnRenamed("node", "__node__"), "__node__", "left"
        )
        .withColumn(
            "__comp__", F.coalesce(F.col("component"), F.col("__node__"))
        )
    )
    sc = F.col(schema.resolve(score_col)).cast("double")
    winners = labeled.groupBy("__comp__").agg(
        F.max_by(
            F.col("__node__"),
            F.struct(sc.alias("s"), (-F.col("__node__")).alias("nid")),
        ).alias("__node__")
    ).select("__node__")
    kept = labeled.join(winners, "__node__", "left_semi").drop(
        "__node__", "component", "__comp__"
    )
    return EDF(kept, schema)


def leakage_safe_split(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    fractions: dict,
    threshold: float = 0.7,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_iter: int = 10,
    salt: str = "",
    split_col: str = "split",
    portable: bool = False,
):
    """Deterministic train/val/test split that CANNOT leak near-dups
    across splits: rows are assigned by the md5 hash of their near-dup
    COMPONENT label (lowest reachable id), not their own id, so every
    member of a near-dup cluster lands in the same split. A plain
    id-hash split puts ~(1 - sum f_i^2) of near-dup pairs in different
    splits — textbook eval contamination that decontamination gates
    against a FIXED benchmark can't catch, because the leak is between
    the corpus's own splits.

    Plan: the clustering is :func:`near_dup_components` (banded
    MinHash pairs -> O(log n) min-label contraction; component labels
    exist only for PAIRED nodes, small next to the corpus); labels
    left-join back onto the corpus (singletons key on their own id)
    and the split itself is the zero-shuffle md5 projection of
    :func:`~eland_spark.operators.sampling.split_by_hash`.
    ``portable=True`` makes the whole pipeline — pair set, components,
    and split — replayable in plain SQL."""
    from ..frame import DataFrame as EDF
    from ..schema import Field
    from .sampling import split_by_hash
    from pyspark.sql import types as T

    schema = df._schema
    idc = F.col(schema.resolve(id_col))
    comp = near_dup_components(
        df, text_col, id_col, threshold, k, num_hashes, bands, max_iter,
        portable=portable,
    )
    labeled = (
        df._sdf.withColumn("__node__", idc)
        .join(
            comp.withColumnRenamed("node", "__node__"), "__node__", "left"
        )
        .withColumn(
            "__comp__", F.coalesce(F.col("component"), F.col("__node__"))
        )
    )
    out = split_by_hash(
        labeled, "__comp__", fractions, salt=salt, split_col=split_col
    ).drop("__node__", "component", "__comp__")
    return EDF(
        out,
        schema.with_field(Field(split_col, split_col, T.StringType(), True)),
    )


def duplicated(df: "DataFrame", subset=None, keep: str = "first"):
    """pandas ``DataFrame.duplicated``: per-row boolean flag frame
    (index columns + ``duplicated``). keep='first' marks all but the
    lowest-index row of each group, 'last' all but the highest,
    keep=False marks every member of any duplicated group. One hash
    shuffle on the subset columns (row_number / count window) — the
    flag twin of :func:`drop_duplicates`."""
    from ..frame import DataFrame as EDF

    schema = df._schema
    cols = [schema.resolve(c) for c in (subset or schema.display_names)]
    if not schema.index_cols:
        raise ValueError("duplicated needs an index for deterministic keep order")
    if keep is False:
        w = Window.partitionBy(*[F.col(c) for c in cols])
        flag = F.count(F.lit(1)).over(w) > 1
    elif keep in ("first", "last"):
        order = [
            F.col(schema.resolve(c)).asc() if keep == "first" else F.col(schema.resolve(c)).desc()
            for c in schema.index_cols
        ]
        w = Window.partitionBy(*[F.col(c) for c in cols]).orderBy(*order)
        flag = F.row_number().over(w) > 1
    else:
        raise ValueError("keep must be 'first', 'last', or False")
    out = df._sdf.select(
        *[F.col(schema.resolve(ic)).alias(ic) for ic in schema.index_cols],
        flag.alias("duplicated"),
    )
    return EDF(out, index_cols=tuple(schema.index_cols))


def contamination_flags(
    df: "DataFrame",
    benchmark,
    text_col: str,
    id_col: str,
    bench_text_col: str | None = None,
    k: int = 8,
):
    """Benchmark decontamination — the eval-leakage gate of a training
    corpus: flag every document sharing at least one word ``k``-shingle
    with a benchmark/eval corpus. Returns a Spark DataFrame
    (``id_col``, ``contaminated`` boolean).

    Plan: the benchmark's DISTINCT shingles (eval sets are tiny next to
    a training corpus) broadcast into a left-semi join against the
    corpus's exploded shingles (``shingle_rows`` — tokens materialized
    once, pure map), the hit ids are distinct-ed (one hash shuffle on
    the id), then left-joined back onto the id universe for the boolean
    flag. The corpus is never shuffled by shingle; small-file inputs
    get ONE pre-explode repartition keyed by the id
    (``ensure_parallelism`` — a no-op at real scale) whose exchange the
    hit-dedup then reuses. At 100 TB swap the raw shingle strings for
    ``xxhash64`` values to shrink the broadcast — string equality is
    kept here so the whole operator is reproducible in plain SQL
    (driver oracle).
    """
    from .parallelism import ensure_parallelism

    schema = df._schema
    text = F.col(schema.resolve(text_col))
    idc = F.col(schema.resolve(id_col))
    bsdf = benchmark.to_spark() if hasattr(benchmark, "to_spark") else benchmark
    btext = F.col(bench_text_col or text_col)

    corpus_src = ensure_parallelism(
        df._sdf.select(idc.alias("__cid__"), text.alias("__t__")), "__cid__"
    )
    corpus_sh = shingle_rows(
        corpus_src, F.col("__t__"), F.col("__cid__"), k, dedup=False
    ).select(F.col("__id__"), F.col("__sh__").alias("__s__"))
    bench_sh = (
        shingle_rows(
            ensure_parallelism(bsdf.select(btext.alias("__t__"))),
            F.col("__t__"),
            F.lit(0),
            k,
            dedup=False,
        )
        .select(F.col("__sh__").alias("__s__"))
        .distinct()
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "__s__", "left_semi")
        .select("__id__")
        .distinct()
        .withColumn("__cont__", F.lit(True))
    )
    return (
        df._sdf.select(idc.alias("__id__"))
        .join(hits, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(F.col("__cont__"), F.lit(False)).alias("contaminated"),
        )
    )


def contamination_overlap(
    df: "DataFrame",
    benchmark,
    text_col: str,
    id_col: str,
    bench_text_col: str | None = None,
    k: int = 8,
):
    """Benchmark-overlap FRACTION per document — the graded twin of
    :func:`contamination_flags`' boolean: of a document's distinct
    word ``k``-shingles, what fraction also occurs in the benchmark
    corpus (the GPT-3/PaLM-style n-gram decontamination metric, where
    documents above a threshold like 70% overlap are dropped rather
    than any-hit flagged). Returns (``id_col``, n_shingles long,
    n_contaminated long, overlap_frac double rounded 6dp) covering
    every corpus id; shingle-less docs report 0 / 0 / 0.0.

    Plan: same asymmetry as the boolean gate — the benchmark's
    distinct shingles BROADCAST, the corpus's per-doc distinct
    shingles stream map-side into the hit flag, then ONE hash
    aggregation on the doc id produces both counts. The corpus is
    never shuffled by shingle."""
    from .parallelism import ensure_parallelism

    schema = df._schema
    text = F.col(schema.resolve(text_col))
    idc = F.col(schema.resolve(id_col))
    bsdf = benchmark.to_spark() if hasattr(benchmark, "to_spark") else benchmark
    btext = F.col(bench_text_col or text_col)

    corpus_src = ensure_parallelism(
        df._sdf.select(idc.alias("__cid__"), text.alias("__t__")), "__cid__"
    )
    # dedup=True: the metric is over DISTINCT shingles per doc
    corpus_sh = shingle_rows(
        corpus_src, F.col("__t__"), F.col("__cid__"), k, dedup=True
    ).select("__id__", F.col("__sh__").alias("__s__"))
    bench_sh = (
        shingle_rows(
            ensure_parallelism(bsdf.select(btext.alias("__t__"))),
            F.col("__t__"),
            F.lit(0),
            k,
            dedup=False,
        )
        .select(F.col("__sh__").alias("__s__"))
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    per_doc = (
        corpus_sh.join(F.broadcast(bench_sh), "__s__", "left")
        .groupBy("__id__")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit__"), F.lit(0))).alias("n_hits"),
        )
    )
    return (
        df._sdf.select(idc.alias("__id__"))
        .join(per_doc, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            F.round(
                F.coalesce(
                    F.col("n_hits") / F.col("n_shingles"), F.lit(0.0)
                ),
                6,
            ).alias("overlap_frac"),
        )
    )


def cross_near_dup_flags(
    df: "DataFrame",
    reference,
    text_col: str,
    id_col: str,
    ref_text_col: str | None = None,
    ref_id_col: str | None = None,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    portable: bool = False,
):
    """Cross-corpus NEAR-duplicate decontamination: flag every corpus
    document whose MinHash-estimated Jaccard against ANY reference
    (benchmark/eval) document reaches ``threshold``. The fuzzy
    complement of ``contamination_flags`` (which needs an exact shared
    shingle): paraphrased or lightly-edited eval leakage still trips
    the banded signature match.

    Returns a Spark DataFrame (``id_col``, n_near_matches,
    max_est_jaccard, contaminated) covering every corpus id.

    Scale shape: both corpora are signed independently (one shuffle on
    their own ids — the corpus is never shuffled by shingle); the
    banded reference table (eval sets are tiny next to a training
    corpus) is BROADCAST into the bucket join, so the corpus side
    streams map-only through candidate generation; candidate pairs
    carry only ids, signatures re-attach from the checkpointed sig
    tables, and the final flag is one hash aggregation on the corpus
    id. ``portable=True`` switches both corpora to the md5 hash family
    so a SQL oracle replays the exact signatures.
    """
    rpb = num_hashes // bands
    schema = df._schema
    text = F.col(schema.resolve(text_col))
    idc = F.col(schema.resolve(id_col))
    rsdf = reference.to_spark() if hasattr(reference, "to_spark") else reference
    rtext = F.col(ref_text_col or text_col)
    ridc = F.col(ref_id_col or id_col)

    sig_c = minhash_signatures(
        df._sdf, text, idc, k, num_hashes, portable=portable
    ).localCheckpoint(eager=False)
    sig_r = minhash_signatures(
        rsdf, rtext, ridc, k, num_hashes, portable=portable
    ).localCheckpoint(eager=False)

    band_c = sig_c.select(
        F.col("__id__").alias("id_c"),
        F.explode(lsh_band_keys(F.col("__sig__"), bands, rpb)).alias("__bucket__"),
    )
    band_r = sig_r.select(
        F.col("__id__").alias("id_r"),
        F.explode(lsh_band_keys(F.col("__sig__"), bands, rpb)).alias("__bucket__"),
    )
    pairs = (
        band_c.join(F.broadcast(band_r), "__bucket__")
        .select("id_c", "id_r")
        .distinct()
    )
    sa = sig_c.select(F.col("__id__").alias("id_c"), F.col("__sig__").alias("__sig_c__"))
    sb = sig_r.select(F.col("__id__").alias("id_r"), F.col("__sig__").alias("__sig_r__"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sig_c__"), F.col("__sig_r__"), lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.lit(float(num_hashes))
    )
    matched = (
        pairs.join(sa, "id_c")
        .join(F.broadcast(sb), "id_r")
        .select("id_c", "id_r", est.alias("__est__"))
        .filter(F.col("__est__") >= threshold)
        .groupBy("id_c")
        .agg(
            F.count(F.lit(1)).alias("n_near_matches"),
            F.max("__est__").alias("max_est_jaccard"),
        )
    )
    return (
        df._sdf.select(idc.alias("id_c"))
        .join(matched, "id_c", "left")
        .select(
            F.col("id_c").alias(id_col),
            F.coalesce(F.col("n_near_matches"), F.lit(0)).cast("long").alias(
                "n_near_matches"
            ),
            F.coalesce(F.col("max_est_jaccard"), F.lit(0.0)).alias(
                "max_est_jaccard"
            ),
            (F.col("n_near_matches").isNotNull()).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# text shingling / normalization helpers (pure Column expressions)
# ---------------------------------------------------------------------------

def normalized_tokens(text: Column) -> Column:
    """lowercase, strip non-alnum, split on whitespace -> array<string>."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")
    return F.filter(F.split(cleaned, r"\s+"), lambda t: t != "")


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as array<string> (distinct)."""
    toks = normalized_tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", toks))).otherwise(F.array())
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1; keeps a*h + b under 2^62 (ANSI-safe)


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family
    h_i(x) = (a_i * x + b_i) mod p — reproducible LCG, no numpy state."""
    out, state = [], seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 33) % (MINHASH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (state >> 33) % MINHASH_PRIME
        out.append((a, b))
    return out


def shingle_rows(sdf, text: Column, id_alias: Column, k: int = 3, dedup: bool = True):
    """(id, shingle) rows: materialize the token array once per doc,
    build shingles with transform over an index sequence, explode.

    This is a PURE MAP — no window, no shuffle: shingling is
    embarrassingly parallel and the single shuffle of the
    minhash/simhash chain is the downstream per-id aggregation. (An
    earlier window-lead formulation shuffled on the doc id first;
    measured slower AND one extra exchange. The naive array-lambda
    version that re-splits the text per access is ~10x slower still —
    the token array must be materialized as its own column first.)

    Docs with fewer than k tokens yield their full token string as a
    single shingle (matching ``shingles``).

    ``dedup=False`` skips the distinct shuffle — correct whenever the
    consumer is duplicate-insensitive (MinHash min-aggregation)."""
    toks = sdf.select(id_alias.alias("__id__"), normalized_tokens(text).alias("__toks__"))
    n = F.size("__toks__")
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice("__toks__", i + 1, k)))
    arr = F.when(n >= k, sh).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", "__toks__"))).otherwise(F.array())
    )
    out = toks.select("__id__", F.explode(arr).alias("__sh__"))
    return out.distinct() if dedup else out


def minhash_signatures(
    sdf, text: Column, id_alias: Column, k: int = 3, num_hashes: int = 64,
    seed: int = 42, portable: bool = False,
):
    """(id, sig: array<bigint>) via explode -> hash once per shingle ->
    num_hashes affine permutations -> min-aggregate. All primitive ops
    inside one HashAggregate (map-side partial combine), one shuffle on
    the doc id.

    ``portable=True`` hashes shingles with md5 (first 15 hex chars)
    instead of xxhash64 — bit-identical on any engine with md5, so a
    SQL oracle reproduces the exact signatures; xxhash64 stays the
    default (faster) when cross-engine parity isn't needed."""
    from .parallelism import ensure_parallelism

    # pre-spread small inputs by the doc id: the groupBy below reuses
    # the exchange (alias-aware partitioning), so this adds parallelism
    # to the shingle+hash map without adding a shuffle
    sdf = ensure_parallelism(sdf, id_alias)
    # dedup=False: min() is duplicate-insensitive, so the distinct
    # shuffle would be pure waste (the groupBy below is the one shuffle)
    rows = shingle_rows(sdf, text, id_alias, k, dedup=False)
    if portable:
        raw = F.conv(F.substring(F.md5("__sh__"), 1, 15), 16, 10).cast("bigint")
    else:
        raw = F.xxhash64("__sh__")
    hashed = rows.select(
        "__id__", F.pmod(raw, F.lit(MINHASH_PRIME)).alias("__h__")
    )
    aggs, sig_array = _minhash_agg_exprs(num_hashes, seed)
    return (
        hashed.groupBy("__id__")
        .agg(*aggs)
        .select("__id__", sig_array.alias("__sig__"))
    )


# Column objects are immutable unresolved-expression wrappers keyed on
# fixed internal names, so the num_hashes-wide agg list (hundreds of
# py4j round trips to build) is reusable across frames and sessions —
# rebuilding it per call was ~0.4s of pure constant overhead on every
# minhash query construction
_MINHASH_AGG_CACHE: dict = {}


def _minhash_agg_exprs(num_hashes: int, seed: int):
    key = (num_hashes, seed)
    if key not in _MINHASH_AGG_CACHE:
        params = minhash_params(num_hashes, seed)
        aggs = [
            F.min(
                F.pmod(
                    F.lit(a) * F.col("__h__") + F.lit(b),
                    F.lit(MINHASH_PRIME),
                )
            ).alias(f"__m{i}__")
            for i, (a, b) in enumerate(params)
        ]
        arr = F.array(*[F.col(f"__m{i}__") for i in range(num_hashes)])
        _MINHASH_AGG_CACHE[key] = (aggs, arr)
    return _MINHASH_AGG_CACHE[key]


def lsh_band_keys(sig: Column, bands: int = 16, rows_per_band: int = 4) -> Column:
    """Split the signature into bands; each band hashes to one bucket key.
    Rows sharing any band key are candidate pairs. array<bigint> length bands."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws("_", b, F.concat_ws(",", F.slice(sig, b * rows_per_band + 1, rows_per_band)))
        ),
    )


def minhash_candidate_pairs(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
):
    """Candidate near-dup pairs with estimated Jaccard (signature
    agreement fraction). Returns a Spark DataFrame (id_a, id_b,
    est_jaccard).

    The signature table is materialized (localCheckpoint) before the
    self-join — without the barrier Catalyst would re-evaluate the
    O(|shingles| * num_hashes) signature expression once per CANDIDATE
    PAIR side instead of once per row (measured 100x slowdown).
    localCheckpoint over persist: checkpoint blocks are GC-cleaned when
    the frame goes out of scope, while a persisted DataFrame stays
    pinned in the CacheManager until explicit unpersist — repeated dedup
    calls in one session would leak storage. At a real 100 TB scale this
    stage is a persisted/bucketed intermediate table with explicit
    lifecycle instead.
    """
    rpb = num_hashes // bands
    schema = df._schema
    text = F.col(schema.resolve(text_col))
    idc = F.col(schema.resolve(id_col))

    sig = minhash_signatures(
        df._sdf, text, idc, k, num_hashes, portable=portable
    ).localCheckpoint(eager=False)
    banded = sig.select(
        "__id__", F.explode(lsh_band_keys(F.col("__sig__"), bands, rpb)).alias("__bucket__")
    )
    l, r = banded.alias("l"), banded.alias("r")
    # pair candidates carry only ids through the shuffle; signatures are
    # attached afterwards from the (small, cached) sig table
    pairs = (
        l.join(r, on="__bucket__")
        .filter(F.col("l.__id__") < F.col("r.__id__"))
        .select(F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("__id__").alias("id_a"), F.col("__sig__").alias("__sig_a__"))
    sb = sig.select(F.col("__id__").alias("id_b"), F.col("__sig__").alias("__sig_b__"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sig_a__"), F.col("__sig_b__"), lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


def minhash_index_rows(
    sdf,
    text: Column,
    id_alias: Column,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
):
    """The STORABLE banded MinHash index row: ``(id, sig, keys)``.

    One row per document — the signature plus its precomputed band
    keys — so a persisted index never re-shingles history. This is the
    unit the streaming maintenance path appends per micro-batch
    (streaming/curation.stream_minhash_update) and the nightly
    increment probes (:func:`minhash_probe`): the incremental
    complement of the exact-dup Bloom gate, for NEAR duplicates.
    Re-ingested ids simply add a second row; probing is
    union-idempotent (candidates collapse in the pair distinct)."""
    rpb = num_hashes // bands
    sig = minhash_signatures(sdf, text, id_alias, k, num_hashes, portable=portable)
    return sig.select(
        F.col("__id__").alias("id"),
        F.col("__sig__").alias("sig"),
        lsh_band_keys(F.col("__sig__"), bands, rpb).alias("keys"),
    )


def minhash_probe(
    inc_rows,
    index_rows,
    num_hashes: int = 64,
    threshold: float = 0.8,
):
    """Probe an increment against a stored MinHash index: flag every
    increment document whose estimated Jaccard against ANY indexed
    document reaches ``threshold``. Both sides are
    :func:`minhash_index_rows` tables — history is never re-signed.

    Returns (id, n_near_matches long, max_est_jaccard double,
    near_dup boolean) covering every increment id.

    Scale shape (the nightly-ingest asymmetry, reversed from
    cross_near_dup_flags): the INDEX is the 100 TB side, the increment
    is small — so the increment's banded keys broadcast into the
    bucket join and the index streams map-only through candidate
    generation; pairs carry only ids, increment signatures re-attach
    by broadcast, and only the (bounded) candidate set shuffles to the
    final per-increment aggregation."""
    inc = inc_rows.localCheckpoint(eager=False)
    band_i = index_rows.select(
        F.col("id").alias("id_r"),
        F.col("sig").alias("__sig_r__"),
        F.explode("keys").alias("__bucket__"),
    )
    band_c = inc.select(
        F.col("id").alias("id_c"), F.explode("keys").alias("__bucket__")
    )
    # index side keeps its signature through the candidate join: no
    # second pass over the store to re-attach it
    cand = (
        band_i.join(F.broadcast(band_c), "__bucket__")
        .select("id_c", "id_r", "__sig_r__")
        .distinct()
    )
    sc = inc.select(F.col("id").alias("id_c"), F.col("sig").alias("__sig_c__"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sig_c__"), F.col("__sig_r__"), lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.lit(float(num_hashes))
    )
    matched = (
        cand.join(F.broadcast(sc), "id_c")
        .select("id_c", est.alias("__est__"))
        .filter(F.col("__est__") >= threshold)
        .groupBy("id_c")
        .agg(
            F.count(F.lit(1)).alias("n_near_matches"),
            F.max("__est__").alias("max_est_jaccard"),
        )
    )
    return (
        inc.select(F.col("id"))
        .join(matched, F.col("id") == F.col("id_c"), "left")
        .select(
            "id",
            F.coalesce(F.col("n_near_matches"), F.lit(0)).cast("long").alias(
                "n_near_matches"
            ),
            F.coalesce(F.col("max_est_jaccard"), F.lit(0.0)).alias(
                "max_est_jaccard"
            ),
            F.col("n_near_matches").isNotNull().alias("near_dup"),
        )
    )


def simhash_frame(
    sdf, text: Column, id_alias: Column, k: int = 2, portable: bool = False
):
    """(id, simhash: bigint) — 64-bit SimHash over word k-shingles.

    Row-based: explode shingles, hash each once, then one groupBy with 64
    conditional sums (bit set -> +1 else -1); sign of each sum is the
    fingerprint bit. Single shuffle, map-side combinable, codegen'd.

    ``portable=True`` builds the 64-bit shingle hash from md5 (two
    32-bit halves recombined with shift/or — exact bit pattern on any
    engine with md5) instead of xxhash64, enabling a SQL oracle."""
    from .parallelism import ensure_parallelism

    sdf = ensure_parallelism(sdf, id_alias)
    rows = shingle_rows(sdf, text, id_alias, k)
    if portable:
        hi = F.conv(F.substring(F.md5("__sh__"), 1, 8), 16, 10).cast("bigint")
        lo = F.conv(F.substring(F.md5("__sh__"), 9, 8), 16, 10).cast("bigint")
        h = F.shiftleft(hi, 32).bitwiseOR(lo)
    else:
        h = F.xxhash64("__sh__")
    hashed = rows.select("__id__", h.alias("__h__"))
    aggs, out = _simhash_exprs()
    grouped = hashed.groupBy("__id__").agg(*aggs)
    return grouped.select("__id__", out.alias("__simhash__"))


# Column objects are immutable unresolved-expression wrappers over fixed
# internal names ("__h__"/"__b{i}__"), so the 64 vote aggregates and the
# 64-way fingerprint assembly — hundreds of py4j round trips to build —
# are reusable across frames and sessions (same rationale as
# _MINHASH_AGG_CACHE; rebuilding them per call was ~1s of pure constant
# plan-construction overhead on every simhash query)
_SIMHASH_EXPR_CACHE: list = []


def _simhash_exprs():
    if not _SIMHASH_EXPR_CACHE:
        aggs = []
        for i in range(64):
            bit = (1 << i) - (1 << 64) if i == 63 else (1 << i)
            vote = F.when(
                F.col("__h__").bitwiseAND(F.lit(bit)) != 0, 1
            ).otherwise(-1)
            aggs.append(F.sum(vote).alias(f"__b{i}__"))
        out = F.lit(0).cast("long")
        for i in range(64):
            bit = (1 << i) - (1 << 64) if i == 63 else (1 << i)
            out = out.bitwiseOR(
                F.when(F.col(f"__b{i}__") >= 0, F.lit(bit)).otherwise(F.lit(0))
            )
        _SIMHASH_EXPR_CACHE.append((aggs, out))
    return _SIMHASH_EXPR_CACHE[0]


def _band_complement(col: Column, b: int, width: int) -> Column:
    """The 64-bit value ``col`` with band ``b``'s ``width`` bits removed
    and the remaining bits compacted into the low ``64 - width`` bits.
    Guards the ``(b + 1) * width == 64`` case explicitly: a Java long
    shift uses only the low 6 bits of its count, so ``x >>> 64 == x``,
    not 0."""
    low_bits = b * width
    low = (
        col.bitwiseAND(_mask_lit(low_bits))
        if low_bits
        else F.lit(0).cast("long")
    )
    hi_shift = (b + 1) * width
    if hi_shift >= 64:
        high = F.lit(0).cast("long")
    else:
        high = F.shiftleft(F.shiftrightunsigned(col, hi_shift), low_bits)
    return low.bitwiseOR(high)


def _mask_lit(width: int) -> Column:
    """Literal long with the low ``width`` bits set. ``width == 64`` is
    all-ones, which as a SIGNED long literal is -1 (``(1 << 64) - 1``
    overflows the JVM long)."""
    return F.lit(-1) if width >= 64 else F.lit((1 << width) - 1)


_SIMHASH_BLOCK_KEY_CACHE: dict = {}


def simhash_block_keys(col: Column, max_hamming: int) -> Column:
    """Array of (bs, bits, sub) blocking structs for a 64-bit SimHash
    fingerprint — the two-level pigeonhole keys ``simhash_near_dup_pairs``
    equi-joins on. Exposed so tests can pin the candidate-count bound."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    rem_width = 64 - width
    sub_w = rem_width // n_bands
    entries = []
    for b in range(n_bands):
        bits = F.shiftrightunsigned(col, b * width).bitwiseAND(_mask_lit(width))
        rem = _band_complement(col, b, width)
        for s in range(n_bands):
            w_s = sub_w if s < n_bands - 1 else rem_width - sub_w * (n_bands - 1)
            sub = F.shiftrightunsigned(rem, s * sub_w).bitwiseAND(_mask_lit(w_s))
            entries.append(
                F.struct(
                    F.lit(b * n_bands + s).alias("bs"),
                    bits.alias("bits"),
                    sub.alias("sub"),
                )
            )
    return F.array(*entries)


def simhash_near_dup_pairs(
    sdf,
    text: Column,
    id_alias: Column,
    k: int = 2,
    max_hamming: int = 3,
    portable: bool = False,
):
    """SimHash near-dup candidate pairs within a hamming radius.

    Two-level pigeonhole banding. Level 1: split the 64-bit fingerprint
    into ``max_hamming + 1`` bands — any pair within the radius MUST
    agree exactly on at least one band. Level 2: a pair that agrees on
    band ``b`` still has at most ``max_hamming`` mismatches in the
    remaining ``64 - width`` bits, so it must ALSO agree exactly on at
    least one of ``max_hamming + 1`` sub-bands of that complement.
    Blocking on (band, band_bits, sub_band, sub_bits) keeps the
    exhaustiveness guarantee while widening the random-collision key
    space from 2^16 to 2^28 per block (defaults): candidate pairs from
    unrelated documents grow O(n²/2²⁸) per block instead of O(n²/2¹⁶)
    per band — the difference between fine and catastrophic at 100×
    corpus scale. Verification is one codegen'd bit_count(xor) per
    candidate. Returns (id_a, id_b, hamming)."""
    fp = simhash_frame(sdf, text, id_alias, k, portable=portable)
    # the 16-struct block-key array is input-independent (fixed internal
    # column name) — build it once per radius, not per query (~0.3s of
    # py4j round trips otherwise)
    if max_hamming not in _SIMHASH_BLOCK_KEY_CACHE:
        _SIMHASH_BLOCK_KEY_CACHE[max_hamming] = F.explode(
            simhash_block_keys(F.col("__simhash__"), max_hamming)
        )
    banded = fp.select(
        "__id__",
        "__simhash__",
        _SIMHASH_BLOCK_KEY_CACHE[max_hamming].alias("blk"),
    ).select(
        "__id__",
        "__simhash__",
        F.col("blk.bs").alias("__bs__"),
        F.col("blk.bits").alias("__bits__"),
        F.col("blk.sub").alias("__sub__"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    ham = F.bit_count(F.col("l.__simhash__").bitwiseXOR(F.col("r.__simhash__")))
    return (
        l.join(
            r,
            on=[
                F.col("l.__bs__") == F.col("r.__bs__"),
                F.col("l.__bits__") == F.col("r.__bits__"),
                F.col("l.__sub__") == F.col("r.__sub__"),
            ],
        )
        .filter(F.col("l.__id__") < F.col("r.__id__"))
        .select(
            F.col("l.__id__").alias("id_a"),
            F.col("r.__id__").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard(a: Column, b: Column, k: int = 3) -> Column:
    """Exact Jaccard similarity of word k-shingle sets of two strings.

    NOTE: this single-Column form inlines the ``shingles`` chain
    (tokenize + transform + distinct) FOUR times — once per side per
    set operation — and the interpreted higher-order functions make
    that ~4x the necessary per-row cost (measured 13 ms/pair on ~1 KB
    texts). Row-volume callers should use :func:`with_ngram_jaccard`,
    which stages the two shingle arrays in their own projection so
    each is evaluated once."""
    sa, sb = shingles(a, k), shingles(b, k)
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def with_ngram_jaccard(
    sdf, a: Column, b: Column, out_col: str = "jac", k: int = 3
):
    """``sdf`` plus exact k-shingle Jaccard of two string columns,
    with the shingle arrays materialized ONCE each in a staging
    projection (CollapseProject keeps a non-cheap alias that is
    referenced more than once, so the tokenize+transform chain runs
    once per side instead of once per reference — measured 4x on the
    LSH-verify path). Bit-identical to :func:`ngram_jaccard`."""
    staged = sdf.select(
        "*", shingles(a, k).alias("__sa__"), shingles(b, k).alias("__sb__")
    )
    inter = F.size(F.array_intersect(F.col("__sa__"), F.col("__sb__")))
    union = F.size(F.array_union(F.col("__sa__"), F.col("__sb__")))
    return staged.withColumn(
        out_col, F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    ).drop("__sa__", "__sb__")


def edit_similarity(a: Column, b: Column) -> Column:
    """Normalized edit similarity ``1 - levenshtein(a, b) / max(len)``
    — 1.0 for identical strings, 0.0 for fully dissimilar, and (by
    convention) 1.0 when both are empty. Integer arithmetic end to
    end, so any engine with a classic Levenshtein reproduces it
    exactly. Like ``ngram_jaccard``, this is a pairwise VERIFIER:
    O(|a|*|b|) per pair, so feed it LSH candidates
    (``minhash_candidate_pairs``), never a corpus cross join."""
    mx = F.greatest(F.length(a), F.length(b))
    return F.when(
        mx > 0, F.lit(1.0) - F.levenshtein(a, b) / mx
    ).otherwise(F.lit(1.0))


def snapshot_diff(
    old_sdf,
    new_sdf,
    on: str,
    compare: "list[str] | None" = None,
    include_unchanged: bool = False,
    validate: bool = False,
):
    """Diff two corpus snapshots by key: which documents were added,
    removed, or changed between yesterday's corpus and today's.

    The incremental-pipeline primitive: downstream stages (dedup,
    quality scoring, embedding) re-run only on ``added``/``changed``
    rows instead of the full corpus — at 100 TB the difference between
    a nightly job and an impossible one. ``compare`` names the columns
    whose values define "changed" (default: every shared non-key
    column); comparison is null-safe (<=> semantics), so a null->value
    transition counts as a change.

    PRECONDITION: ``on`` must be unique within each snapshot (like
    pandas ``merge(validate="1:1")``). Duplicate keys fan out in the
    full outer join and yield one status row per old x new pairing —
    set ``validate=True`` to assert uniqueness up front (one extra
    aggregate job per side) instead; recommended for oracle/test paths
    (ADVICE r2).

    Plan: ONE full outer join on the key — both sides hash-partition on
    ``on``, no second pass, no driver state. Output is filtered to the
    delta by default (``include_unchanged=True`` keeps the full
    ledger). Returns (on, status string) with status in
    added/removed/changed/unchanged.
    """
    if validate:
        for side, sdf in (("old", old_sdf), ("new", new_sdf)):
            dup = (
                sdf.groupBy(on)
                .agg(F.count(F.lit(1)).alias("__n__"))
                .filter(F.col("__n__") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"snapshot_diff: key {on!r} is not unique in the "
                    f"{side} snapshot (e.g. {dup[0][on]!r}); diff by a "
                    f"unique key or pre-aggregate"
                )
    if compare is None:
        compare = [
            c for c in new_sdf.columns if c != on and c in old_sdf.columns
        ]
    o = old_sdf.select(
        F.col(on).alias("__k__"),
        F.lit(True).alias("__in_old__"),
        *[F.col(c).alias(f"__o_{c}") for c in compare],
    )
    n = new_sdf.select(
        F.col(on).alias("__k__"),
        F.lit(True).alias("__in_new__"),
        *[F.col(c).alias(f"__n_{c}") for c in compare],
    )
    j = o.join(n, "__k__", "full_outer")
    same = F.lit(True)
    for c in compare:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    status = (
        F.when(F.col("__in_old__").isNull(), F.lit("added"))
        .when(F.col("__in_new__").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out = j.select(F.col("__k__").alias(on), status.alias("status"))
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


def duplicate_span_stats(
    sdf,
    text: Column,
    id_col: Column,
    k: int = 8,
    min_docs: int = 2,
    portable: bool = False,
):
    """Exact substring-duplication profile per document.

    The corpus-level exact-substring dedup signal of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"): a
    token position is *duplicated* when it lies inside any k-token
    window whose exact token sequence occurs in at least ``min_docs``
    DISTINCT documents. Per document this returns how much of the text
    is corpus-repeated — the curation gate drops or downweights
    documents with a high ``dup_fraction`` (license footers, mirrored
    articles, templated pages). Unlike ``remove_boilerplate`` (whole
    delimiter-separated segments) this operates on every overlapping
    token window, so it catches duplication that crosses sentence
    boundaries or hides inside otherwise-unique text.

    Plan shape (suffix arrays don't distribute; positional window
    counting does): one map-only pass materializes tokens and explodes
    (doc, start, window-key) rows; the duplicated-window set is ONE
    hash aggregation on the window key (map-side combined, two-phase
    for the distinct-doc count); a join marks duplicated starts (the
    dup set is corpus-boilerplate-sized, so AQE broadcasts it); covered
    positions expand via sequence+explode and ONE aggregation per doc
    counts them. Window keys are xxhash64 of the space-joined window by
    default — 8 shuffle bytes per window regardless of k; ``portable=
    True`` keys by the raw joined string so any SQL engine replays the
    pipeline byte-for-byte (the oracle mode; same results absent hash
    collisions).

    Docs shorter than ``k`` tokens have no windows: dup_fraction 0.

    Returns (id, n_tokens long, dup_windows long, covered_tokens long,
    dup_fraction double rounded to 6).
    """
    from .parallelism import ensure_parallelism

    win_key = (lambda c: c) if portable else F.xxhash64

    docs = ensure_parallelism(sdf.select(id_col.alias("__id__"), text.alias("__x__")), "__id__")
    docs = docs.select(
        "__id__", normalized_tokens(F.col("__x__")).alias("__t__")
    ).withColumn(
        # size(null) is -1; null text must read as an empty doc
        "__n__", F.greatest(F.size("__t__"), F.lit(0))
    )

    starts = F.when(
        F.col("__n__") >= k, F.sequence(F.lit(0), F.col("__n__") - k)
    ).otherwise(F.array().cast("array<int>"))
    wins = docs.select(
        "__id__",
        F.posexplode(
            F.transform(
                starts,
                lambda s: win_key(
                    F.concat_ws(" ", F.slice(F.col("__t__"), s + 1, k))
                ),
            )
        ).alias("__s__", "__w__"),
    )

    if min_docs == 2:
        # min(id) != max(id) <=> >= 2 distinct docs; skips the
        # two-phase distinct expand (one exchange instead of two)
        dup = (
            wins.groupBy("__w__")
            .agg(F.min("__id__").alias("__lo__"), F.max("__id__").alias("__hi__"))
            .filter(F.col("__lo__") != F.col("__hi__"))
            .select("__w__", F.lit(True).alias("__dup__"))
        )
    else:
        dup = (
            wins.groupBy("__w__")
            .agg(F.countDistinct("__id__").alias("__nd__"))
            .filter(F.col("__nd__") >= min_docs)
            .select("__w__", F.lit(True).alias("__dup__"))
        )

    flagged = wins.join(dup, "__w__")  # inner: only duplicated starts survive
    covered = flagged.select(
        "__id__",
        "__s__",
        F.explode(F.sequence(F.col("__s__"), F.col("__s__") + k - 1)).alias("__p__"),
    )
    # starts are unique per doc, so countDistinct(start) over the
    # exploded positions == the window count: ONE per-doc aggregation
    # yields both outputs (one exchange + one join fewer than
    # aggregating windows and positions separately)
    per_doc = covered.groupBy("__id__").agg(
        F.countDistinct("__s__").alias("dup_windows"),
        F.countDistinct("__p__").alias("covered_tokens"),
    )

    base = docs.select("__id__", F.col("__n__").cast("long").alias("n_tokens"))
    return (
        base.join(per_doc, "__id__", "left")
        .select(
            F.col("__id__").alias("id"),
            "n_tokens",
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_fraction"),
        )
    )


def segment_dedup(
    sdf,
    text: "str | Column" = "text",
    id_col: str = "doc_id",
    sep: str = r"\n\n",
    joiner: str = "\n\n",
    normalize: bool = True,
):
    """Corpus-level segment (paragraph/line) deduplication: keep the
    FIRST occurrence of every distinct segment corpus-wide, drop every
    later copy, and reassemble each document's surviving segments in
    original order (the CCNet / MassiveText / Dolma line-dedup step;
    no reference analog — eland has no dedup surface).

    "First" means the lexicographically smallest ``(id, position)``
    pair, so the result is deterministic under any partitioning.

    Scale shape: duplicate segments are exactly where key skew lives
    (boilerplate lines repeat millions of times at 100 TB), so the
    winner per segment key is computed with a map-side-combinable
    ``groupBy(key).agg(min(struct(id, pos)))`` — every hot key
    collapses to ONE row before the exchange — and joined back on the
    key (AQE skew-join splits any remaining hot partition). A
    ``Window.partitionBy(key)`` would instead funnel every copy of a
    hot segment through a single partition. Reassembly is one further
    hash aggregation on the doc id; docs whose text is null or whose
    segments were all dropped survive via the final left join with an
    empty result.

    Returns ``(id, dedup_text, n_segments, n_kept)`` — one row per
    input document.
    """
    tcol = F.col(text) if isinstance(text, str) else text
    idc = F.col(id_col)

    parts = sdf.select(
        idc.alias("__id__"),
        F.posexplode(F.split(tcol, sep)).alias("__pos__", "__seg__"),
    ).where(F.trim(F.col("__seg__")) != "")
    key = F.trim(F.col("__seg__"))
    if normalize:
        key = F.lower(key)
    parts = parts.withColumn("__key__", F.md5(key))

    winners = parts.groupBy("__key__").agg(
        F.min(F.struct(F.col("__id__"), F.col("__pos__"))).alias("__win__")
    )
    joined = parts.join(winners, "__key__")
    keep = (F.col("__id__") == F.col("__win__.__id__")) & (
        F.col("__pos__") == F.col("__win__.__pos__")
    )
    agg = joined.groupBy("__id__").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            keep,
                            F.struct(
                                F.col("__pos__").alias("pos"),
                                F.col("__seg__").alias("seg"),
                            ),
                        )
                    )
                ),
                lambda x: x["seg"],
            ),
            joiner,
        ).alias("dedup_text"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(keep.cast("long")).alias("n_kept"),
    )

    base = sdf.select(idc.alias("__id__"))
    return base.join(agg, "__id__", "left").select(
        F.col("__id__").alias("id"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# shingle-containment near-dup (asymmetric: "A is inside B")
# ---------------------------------------------------------------------------

def containment_near_dup_pairs(
    sdf,
    text: Column,
    id_alias: Column,
    threshold: float = 0.5,
    k: int = 3,
    max_df: int = 20,
):
    """Near-dup pairs by shingle CONTAINMENT ``|A ∩ B| / |A|`` — the
    asymmetric overlap that catches a short document embedded inside a
    longer one (quotes, boilerplate-wrapped copies), which Jaccard
    resemblance (and therefore MinHash banding) structurally misses:
    a 100-shingle doc fully contained in a 10,000-shingle doc has
    containment 1.0 but Jaccard 0.01.

    Candidate generation is RARE-SHINGLE BLOCKING: two docs are
    candidates iff they share at least one shingle whose corpus
    document frequency is in [2, ``max_df``]. Rationale: a pair with
    high containment shares many shingles; unless EVERY shared shingle
    is corpus-common (boilerplate the curation pipeline strips
    upstream), at least one lands under the cap. The cap bounds every
    blocking bucket to <= max_df docs — co-rare-shingle pair rows grow
    as sum_rare_shingles df^2 <= max_df * total_shingle_rows, linear
    in corpus size, never O(n^2) — and an EXACT count-based pruning
    stage (see inline comment) keeps the verify join off the
    share-little pairs that diverse corpora produce in bulk. This is
    the documented RECALL CONTRACT: a contained pair whose shared
    shingles are all common is missed by design (same spirit as
    MinHash's probabilistic recall).

    Verification is fully relational — per-candidate intersection
    counts come from one (pair x shingle) hash join, never by carrying
    shingle arrays through the pair join — so the whole operator is
    three hash aggs + three hash joins, exactly replayable in SQL.

    Returns (id_a, id_b, n_common, containment_a, containment_b)
    with ``max(containment_a, containment_b) >= threshold``;
    containment_x = fraction of x's distinct shingles present in the
    other side. id_a < id_b.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    rows = shingle_rows(sdf, text, id_alias, k).localCheckpoint(eager=False)
    sizes = rows.groupBy("__id__").agg(F.count(F.lit(1)).alias("sz"))
    df_counts = rows.groupBy("__sh__").agg(F.count(F.lit(1)).alias("df"))
    rare = rows.join(
        df_counts.where(
            (F.col("df") >= 2) & (F.col("df") <= max_df)
        ).select("__sh__"),
        "__sh__",
    )
    l, r = rare.alias("l"), rare.alias("r")
    # candidate pruning, EXACT (result-invariant): a pair that passes
    # the final max-containment >= threshold filter has
    #   n_common >= ceil(threshold * min(sz_a, sz_b)) - 1
    # (the -1 absorbs the 6dp rounding of the reported containment),
    # and of those shared shingles at most min(sz_a - rsz_a,
    # sz_b - rsz_b) can be non-rare — so its SHARED-RARE count, which
    # this same join computes for free as a hash agg, must reach
    #   max(1, that bound minus the non-rare allowance).
    # Pairs below the bound cannot pass the final filter, so dropping
    # them changes nothing; pairs sharing ZERO rare shingles remain
    # the documented recall contract. This is what keeps diverse
    # corpora (where almost every shingle is "rare" and >=1-shared
    # blocking alone would go near-quadratic) linear: the verify join
    # only ever sees pairs already sharing a threshold-sized count.
    rare_sizes = rare.groupBy("__id__").agg(F.count(F.lit(1)).alias("rsz"))
    pairc = (
        l.join(r, "__sh__")
        .where(F.col("l.__id__") < F.col("r.__id__"))
        .groupBy(
            F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("__shared_rare__"))
    )
    za0, zb0 = sizes.alias("za0"), sizes.alias("zb0")
    ra0, rb0 = rare_sizes.alias("ra0"), rare_sizes.alias("rb0")
    required = F.greatest(
        F.lit(1),
        F.ceil(
            F.lit(threshold)
            * F.least(F.col("za0.sz"), F.col("zb0.sz"))
        ).cast("long")
        - F.least(
            F.col("za0.sz") - F.col("ra0.rsz"),
            F.col("zb0.sz") - F.col("rb0.rsz"),
        )
        - 1,
    )
    cand = (
        pairc.join(za0, F.col("za0.__id__") == F.col("id_a"))
        .join(zb0, F.col("zb0.__id__") == F.col("id_b"))
        .join(ra0, F.col("ra0.__id__") == F.col("id_a"))
        .join(rb0, F.col("rb0.__id__") == F.col("id_b"))
        .where(F.col("__shared_rare__") >= required)
        .select("id_a", "id_b")
    )
    sa, sb = rows.alias("sa"), rows.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.__id__") == F.col("id_a"))
        .join(
            sb,
            (F.col("sb.__id__") == F.col("id_b"))
            & (F.col("sb.__sh__") == F.col("sa.__sh__")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    out = (
        inter.join(za, F.col("za.__id__") == F.col("id_a"))
        .join(zb, F.col("zb.__id__") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double") / F.col("za.sz"), 6
            ).alias("containment_a"),
            F.round(
                F.col("n_common").cast("double") / F.col("zb.sz"), 6
            ).alias("containment_b"),
        )
    )
    return out.where(
        F.greatest("containment_a", "containment_b") >= threshold
    )
