"""Similarity search over embedding columns (array<float>).

Reference tie-in: eland's text_embedding NLP task produces dense vectors
consumed by ES kNN (eland/ml/pytorch/transformers.py task registry);
the search side lives in ES and is out of eland's scope. Here both sides
are first-class:

- brute-force cosine top-k: exact baseline — one scan, no shuffle except
  the final top-k (TakeOrdered), embarrassingly parallel.
- IVF (inverted-file) variant: assign vectors to nprobe-of-k centroid
  cells, search only matching cells — the 100 TB path (prunes the scan
  to a fraction; cells are a partition key so candidate fetch is a
  partition-pruned read when the table is written bucketed by cell).
- LSH-bucketed variant via random hyperplane signatures (cosine LSH).

Vector math uses zip_with/aggregate fold — sequential IEEE accumulation,
deterministic, codegen'd; no UDF.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .._literals import array_lit

if TYPE_CHECKING:
    from ..frame import DataFrame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _vec_lit(vec: Sequence[float]) -> Column:
    return array_lit([float(v) for v in vec], "double")


def cosine_topk(
    df: "DataFrame",
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "DataFrame":
    """Exact brute-force cosine top-k. The plan is scan -> project
    (codegen'd fold) -> TakeOrderedAndProject: per-partition top-k then
    driver merge — no full shuffle, scales linearly with executors."""
    from ..frame import DataFrame as EDF

    schema = df._schema
    q = _vec_lit(query_vec)
    sim = cosine(F.col(schema.resolve(vec_col)), q)
    out = (
        df._sdf.withColumn("__cos__", sim)
        .orderBy(F.desc("__cos__"), F.col(schema.resolve(id_col)).asc())
        .limit(k)
    )
    from ..schema import Field
    from pyspark.sql import types as T

    return EDF(out, schema.with_field(Field("__cos__", "__cos__", T.DoubleType(), True)))


def knn_join(
    df: "DataFrame",
    queries,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str | None = None,
    query_id_col: str | None = None,
):
    """Batched exact k-NN: top-k corpus neighbors for EVERY query row.

    Plan: broadcast the (small) query frame, cross-join against the
    corpus scan with the cosine computed by the deterministic zip_with
    fold, project down to (query_id, id, score) 3-column rows BEFORE
    the one shuffle, then rank within each query partition. The shuffle
    volume is |corpus| x |queries| x 3 narrow columns; per-query groups
    parallelize across executors, so larger query batches IMPROVE
    balance. For a single ad-hoc vector use ``cosine_topk`` (TakeOrdered,
    zero shuffle); for billion-row corpora bound the scan with the IVF
    or LSH variants and apply the same ranking to the candidate set.

    ``queries``: an eland or Spark DataFrame. Returns a Spark DataFrame
    (query_id, <id_col>, score, rnk).
    """
    from pyspark.sql import Window

    schema = df._schema
    qsdf = queries.to_spark() if hasattr(queries, "to_spark") else queries
    qvc = query_vec_col or vec_col
    qic = query_id_col or id_col
    q = qsdf.select(
        F.col(qic).alias("__qid__"), F.col(qvc).alias("__qv__")
    )
    sim = cosine(F.col(schema.resolve(vec_col)), F.col("__qv__"))
    scored = (
        df._sdf.crossJoin(F.broadcast(q))
        .select(
            "__qid__",
            F.col(schema.resolve(id_col)).alias(id_col),
            sim.alias("score"),
        )
    )
    w = Window.partitionBy("__qid__").orderBy(F.desc("score"), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("__qid__").alias("query_id"), id_col, "score", "rnk")
    )


def quantize_embedding(vec: Column) -> Column:
    """Symmetric int8 quantization of one embedding: struct(scale
    float, q array<tinyint>) with ``scale = max(|x|)/127``. 4x
    storage/shuffle reduction for ANN indexes at scale; all HOF Column
    expressions, zero Python. Zero vectors get scale 1.0 (q all 0)."""
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(vec, lambda x: F.round(x / scale).cast("tinyint"))
    return F.struct(
        scale.cast("float").alias("scale"), q.alias("q")
    )


def dequantize_embedding(qstruct: Column) -> Column:
    """Inverse of :func:`quantize_embedding`: array<float> with max
    reconstruction error scale/2 per component."""
    scale = qstruct.getField("scale")
    return F.transform(
        qstruct.getField("q"), lambda x: (x.cast("float") * scale).cast("float")
    )


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — reproducible across
    engines without numpy RNG state)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Cosine-LSH bit signature: sign of dot(vec, plane_i) -> bigint key."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot(vec, _vec_lit(p)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = sig.bitwiseOR(bit)
    return sig


def lsh_topk(
    df: "DataFrame",
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    max_hamming: int = 2,
    seed: int = 42,
) -> "DataFrame":
    """Approximate top-k: only score vectors whose LSH signature is
    within ``max_hamming`` bits of the query's. At scale, pre-compute and
    persist the signature column (partition/bucket by it) so candidate
    selection is a partition-pruned scan, not a full pass."""
    from ..frame import DataFrame as EDF
    from ..schema import Field
    from pyspark.sql import types as T

    schema = df._schema
    dim = len(query_vec)
    planes = random_hyperplanes(dim, n_planes, seed)
    # query signature computed driver-side (tiny)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(query_vec, p)) >= 0:
            qsig |= 1 << i
    vec = F.col(schema.resolve(vec_col))
    sig = lsh_signature(vec, planes)
    q = _vec_lit(query_vec)
    out = (
        df._sdf.withColumn("__sig__", sig)
        .filter(F.bit_count(F.col("__sig__").bitwiseXOR(F.lit(qsig))) <= max_hamming)
        .withColumn("__cos__", cosine(vec, q))
        .orderBy(F.desc("__cos__"), F.col(schema.resolve(id_col)).asc())
        .limit(k)
        .drop("__sig__")
    )
    return EDF(out, schema.with_field(Field("__cos__", "__cos__", T.DoubleType(), True)))


def ivf_index(
    df: "DataFrame",
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 5,
    seed: int = 42,
    seed_strategy: str = "hash",
):
    """Build IVF centroids with distributed k-means (Lloyd iterations as
    groupBy-avg jobs — no MLlib dependency, no driver-side data besides
    the k centroid vectors). Returns (centroids: list[list[float]]).

    ``seed_strategy='hash'`` (default) pseudo-shuffles the seed pick;
    ``'first'`` takes the ``n_cells`` lowest ids — engine-agnostic, so
    with ``max_iter=0`` the whole index is reproducible in plain SQL
    (the differential-oracle contract).

    At 100 TB: each iteration is one scan + one k-row shuffle; write the
    assigned table partitioned by cell for pruned probes.
    """
    schema = df._schema
    vec = F.col(schema.resolve(vec_col))
    seed_order = (
        [F.col("i").asc()]
        if seed_strategy == "first"
        else [F.pmod(F.xxhash64(F.col("i")), F.lit(97)).asc(), F.col("i").asc()]
    )
    seed_rows = (
        df._sdf.select(vec.alias("v"), F.col(schema.resolve(id_col)).alias("i"))
        .orderBy(*seed_order)
        .limit(n_cells)
        .collect()
    )
    centroids = [[float(x) for x in r["v"]] for r in seed_rows]
    if max_iter > 0:
        # driver-fold gate: when metadata PROVES the scan is one local
        # task holding at most one Arrow batch, the distributed Lloyd
        # step below degenerates to "one partial per (cell, dim), summed
        # by an identity agg" — replicating the identical numpy
        # accumulation on the driver gives bit-for-bit the same
        # centroids while removing one synchronous job wave PER
        # ITERATION (the fdr_bh/reindex driver-fold precedent; the
        # distributed path below stays the unbounded-case contract and
        # is equality-pinned in tests/test_redact_quantize.py::
        # test_ivf_index_driver_fold_equals_distributed; any change to
        # the 1024-row block size here or the distributed kernel must
        # re-run that pin — the equality is empirical, not structural).
        from .parallelism import bounded_single_task_rows

        np = __import__("numpy")
        batch_rows = int(
            df._sdf.sparkSession.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
            )
        )
        n_rows = bounded_single_task_rows(
            df._sdf, min(8192, max(1, batch_rows))
        )
        if n_rows is not None:
            X = np.asarray(
                [r["v"] for r in df._sdf.select(vec.alias("v")).collect()],
                dtype=np.float64,
            )
            for _ in range(max_iter):
                C = np.asarray(centroids, dtype="float64")
                k, dim = C.shape
                sums = np.zeros((k, dim))
                counts = np.zeros(k, dtype=np.int64)
                for s in range(0, len(X), 1024):
                    blk = X[s : s + 1024]
                    d = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
                    cells = d.argmin(axis=1)
                    np.add.at(sums, cells, blk)
                    counts += np.bincount(cells, minlength=k)
                new = [list(c) for c in centroids]
                for c in np.flatnonzero(counts):
                    for i in range(dim):
                        new[c][i] = sums[c][i] / counts[c]
                centroids = [list(c) for c in new]
            return centroids
    for _ in range(max_iter):
        # Arrow-vectorized Lloyd step: each batch assigns via one numpy
        # subtract-square kernel (same arithmetic/tie rule as
        # nearest_cell) and reduces ITSELF to k x dim partial (sum,
        # count) cells, so the shuffle carries batches * k * dim tiny
        # rows and the driver only ever sees k*dim aggregates — no
        # interpreted per-row HOF folds, no 64KB-codegen wide agg,
        # regardless of dim. (Replaces the earlier wide-agg/posexplode
        # JVM pair; measured ~8x per iteration at dim 64, k 48.)
        C = __import__("numpy").asarray(centroids, dtype="float64")

        def emit(it, C=C):
            import numpy as np
            import pandas as pd

            k, dim = C.shape
            for pdf in it:
                if not len(pdf):
                    continue
                X = np.stack(pdf["__vec__"].to_numpy()).astype(np.float64)
                sums = np.zeros((k, dim))
                counts = np.zeros(k, dtype=np.int64)
                for s in range(0, len(X), 1024):
                    blk = X[s : s + 1024]
                    d = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
                    cells = d.argmin(axis=1)
                    np.add.at(sums, cells, blk)
                    counts += np.bincount(cells, minlength=k)
                live = np.flatnonzero(counts)
                ci, di = np.repeat(live, dim), np.tile(np.arange(dim), len(live))
                yield pd.DataFrame(
                    {
                        "c": ci.astype("int32"),
                        "i": di.astype("int32"),
                        "s": sums[live].ravel(),
                        "n": np.repeat(counts[live], dim),
                    }
                )

        sums = (
            df._sdf.select(vec.alias("__vec__"))
            .mapInPandas(emit, schema="c int, i int, s double, n long")
            .groupBy("c", "i")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in sums:
            if r["n"] > 0:
                new[r["c"]][r["i"]] = r["s"] / r["n"]
        centroids = [list(c) for c in new]
    return centroids


def nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid by L2 (ties -> lowest index).

    Expression-only argmin over an array-of-arrays literal: distances
    via one transform, index via array_position of the min. Stays
    COMPACT as k grows (the old chained-when form exploded to
    k * dim terms, capping practical cell counts)."""
    # ONE nested-array literal built in a constant number of py4j
    # commands — F.lit(list) expands to one lit() per element (~1ms of
    # driver round trips each), which at k*dim in the thousands
    # dominated plan CONSTRUCTION time
    carr = array_lit([[float(x) for x in c] for c in centroids], "array<double>")
    dists = F.transform(
        carr,
        lambda c: F.aggregate(
            F.zip_with(
                vec, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def assign_cells_vectorized(
    sdf,
    id_expr: Column,
    vec_expr: Column,
    centroids: list[list[float]],
    id_type: str = "bigint",
    normalize: bool = True,
):
    """(id, unit vector, nearest cell) via ONE Arrow-vectorized scan:
    each batch is a numpy (n x d) block, distances to all centroids in
    chunked ``((x - c)^2).sum`` form (same subtract-square arithmetic
    as :func:`nearest_cell`, so ties and near-ties agree), argmin ->
    first/lowest index like ``array_position``.

    This replaces k interpreted higher-order-function folds PER ROW
    with a matmul-shaped kernel — measured ~10x on the SemDeDup
    assignment stage. Map-only: output inherits the input partitioning
    (no shuffle, no state)."""
    src = sdf.select(id_expr.alias("__id__"), vec_expr.alias("__vec__"))
    out_schema = f"__id__ {id_type}, __v__ array<double>, __cell__ int"
    C = __import__("numpy").asarray(centroids, dtype="float64")

    def emit(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["__vec__"].to_numpy()).astype(np.float64)
            cells = np.empty(len(X), dtype=np.int32)
            for s in range(0, len(X), 1024):
                blk = X[s : s + 1024]
                d = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
                cells[s : s + 1024] = d.argmin(axis=1)
            if normalize:
                X = X / np.linalg.norm(X, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "__id__": pdf["__id__"].to_numpy(),
                    "__v__": list(X),
                    "__cell__": cells,
                }
            )

    return src.mapInPandas(emit, schema=out_schema)


def ivf_topk(
    df: "DataFrame",
    query_vec: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "DataFrame":
    """Probe the nprobe nearest cells only, then exact cosine within."""
    from ..frame import DataFrame as EDF
    from ..schema import Field
    from pyspark.sql import types as T

    schema = df._schema
    dists = [
        (i, sum((float(a) - float(b)) ** 2 for a, b in zip(query_vec, c)))
        for i, c in enumerate(centroids)
    ]
    probe = sorted(i for i, _ in sorted(dists, key=lambda t: t[1])[:nprobe])
    vec = F.col(schema.resolve(vec_col))
    cell = nearest_cell(vec, centroids)
    q = _vec_lit(query_vec)
    out = (
        df._sdf.withColumn("__cell__", cell)
        .filter(F.col("__cell__").isin(probe))
        .withColumn("__cos__", cosine(vec, q))
        .orderBy(F.desc("__cos__"), F.col(schema.resolve(id_col)).asc())
        .limit(k)
        .drop("__cell__")
    )
    return EDF(out, schema.with_field(Field("__cos__", "__cos__", T.DoubleType(), True)))


def ivf_quantized_topk(
    df: "DataFrame",
    query_vec: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 3,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """IVF + int8 asymmetric search: probe the nprobe nearest cells,
    score candidates on DEQUANTIZED int8 codes (4x smaller scan state
    than float32 — the memory/IO knob for billion-vector stores), take
    ``rerank_factor * k`` by approximate cosine, then rerank those few
    rows exactly on the full-precision vectors. Returns a Spark
    DataFrame (id, cos) of the exact-reranked top-k."""
    schema = df._schema
    vec = F.col(schema.resolve(vec_col))
    idc = F.col(schema.resolve(id_col))
    dists = [
        (i, sum((float(a) - float(b)) ** 2 for a, b in zip(query_vec, c)))
        for i, c in enumerate(centroids)
    ]
    probe = sorted(i for i, _ in sorted(dists, key=lambda t: t[1])[:nprobe])
    q = _vec_lit(query_vec)
    cell = nearest_cell(vec, centroids)
    store = df._sdf.select(
        idc.alias("id"), vec.alias("v"), cell.alias("cell"), quantize_embedding(vec).alias("qe")
    ).filter(F.col("cell").isin(probe))
    approx = store.withColumn(
        "acos", cosine(dequantize_embedding(F.col("qe")), q)
    )
    cand = approx.orderBy(F.desc("acos"), F.col("id").asc()).limit(
        max(k * rerank_factor, k)
    )
    return (
        cand.withColumn("cos", cosine(F.col("v"), q))
        .orderBy(F.desc("cos"), F.col("id").asc())
        .limit(k)
        .select("id", "cos")
    )


def ivf_write(
    df: "DataFrame",
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the vector table PARTITIONED BY nearest-centroid cell.

    This is the 100 TB serving shape: a probe then reads only
    ``nprobe`` partition directories (Spark partition pruning — no data
    files outside the probed cells are opened, asserted in
    tests/test_plans.py). Pair with ``ivf_read_topk``.
    """
    schema = df._schema
    vec = F.col(schema.resolve(vec_col))
    assigned = df._sdf.withColumn("__cell__", nearest_cell(vec, centroids))
    assigned.write.mode(mode).partitionBy("__cell__").parquet(path)


def ivf_read_topk(
    spark,
    path: str,
    query_vec: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Probe an ivf_write table: partition-pruned scan of the nprobe
    nearest cells, exact cosine within. Returns a Spark DataFrame
    (id_col, __cos__)."""
    dists = [
        (i, sum((float(a) - float(b)) ** 2 for a, b in zip(query_vec, c)))
        for i, c in enumerate(centroids)
    ]
    probe = sorted(i for i, _ in sorted(dists, key=lambda t: t[1])[:nprobe])
    sdf = spark.read.parquet(path).filter(F.col("__cell__").isin(probe))
    q = _vec_lit(query_vec)
    return (
        sdf.withColumn("__cos__", cosine(F.col(vec_col), q))
        .orderBy(F.desc("__cos__"), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "__cos__")
    )


def embedding_dedup(
    df: "DataFrame",
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    seed: int = 42,
) -> "DataFrame":
    """Embedding-cosine near-duplicate removal: LSH-bucket candidates
    (identical signature), verify cosine >= threshold, drop the higher id
    of each verified pair. Never materializes all-pairs."""
    from ..frame import DataFrame as EDF

    schema = df._schema
    vec = F.col(schema.resolve(vec_col))
    idc = F.col(schema.resolve(id_col))
    dim_row = df._sdf.select(F.size(vec).alias("d")).limit(1).collect()
    dim = dim_row[0]["d"] if dim_row else 0
    planes = random_hyperplanes(dim, n_planes, seed)
    # norms are computed ONCE PER ROW here; the per-pair verify below
    # then pays one fold instead of three per candidate (the candidate
    # count is quadratic in bucket size, the row count is not — same
    # doubles: norm(v) is the identical expression on the same row,
    # and dot/(na*nb) multiplies the same values in the same order)
    sigged = df._sdf.select(
        idc.alias("__id__"),
        vec.alias("__v__"),
        lsh_signature(vec, planes).alias("__sig__"),
        norm(vec).alias("__nrm__"),
    )
    l, r = sigged.alias("l"), sigged.alias("r")
    pairs = (
        l.join(r, on="__sig__")
        .filter(F.col("l.__id__") < F.col("r.__id__"))
        .withColumn(
            "__cos__",
            dot(F.col("l.__v__"), F.col("r.__v__"))
            / (F.col("l.__nrm__") * F.col("r.__nrm__")),
        )
        .filter(F.col("__cos__") >= threshold)
        .select(F.col("r.__id__").alias("__drop__"))
        .distinct()
    )
    kept = df._sdf.join(pairs, on=idc == F.col("__drop__"), how="left_anti")
    return EDF(kept, schema)


def semantic_dedup(
    df: "DataFrame",
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    max_iter: int = 2,
    seed: int = 42,
    seed_strategy: str = "hash",
) -> "DataFrame":
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then drop
    near-duplicates WITHIN each cluster (cosine >= ``threshold``),
    keeping the lowest id of every duplicate pair. Complements
    :func:`embedding_dedup` (LSH buckets): clustering catches
    lower-similarity semantic duplicates that land in different LSH
    buckets, at the cost of the k-means passes.

    Scale shape: candidate pairs are bounded per cluster — the
    self-join key is the cell id, never all-pairs across the corpus.
    Size ``n_cells`` ~ corpus_size / target_cluster_size so the
    within-cluster quadratic term stays bounded; the k-means passes are
    one scan + one k-row shuffle each (see :func:`ivf_index`). With
    ``seed_strategy='first'`` and ``max_iter=0`` the whole pipeline is
    engine-agnostic (plain-SQL oracle contract).
    """
    from ..frame import DataFrame as EDF

    schema = df._schema
    vec = F.col(schema.resolve(vec_col))
    idc = F.col(schema.resolve(id_col))
    id_type = schema.field(id_col).spark_type.simpleString()
    centroids = ivf_index(
        df, n_cells, vec_col, id_col, max_iter, seed, seed_strategy
    )
    # spread single-file inputs BEFORE the per-row assignment so the
    # vectorized kernel runs on every core; the cell shuffle below
    # moves candidate rows only
    from .parallelism import ensure_parallelism

    src = ensure_parallelism(df._sdf)
    # Arrow-vectorized assign + normalize (one numpy kernel per batch
    # instead of n_cells interpreted HOF folds per row — ~10x measured;
    # subtract-square distance arithmetic matches nearest_cell, ties ->
    # lowest index on both paths)
    assigned = assign_cells_vectorized(
        src, idc, vec, centroids, id_type=id_type, normalize=True
    )

    # within-cell pairwise cosines as blocked gram matmuls per cell
    # (the SemDeDup reference shape); emits only the dropped ids. One
    # hash shuffle on the cell id, no candidate-pair fan-out through
    # the exchange. The block loop bounds worker memory at
    # O(block * n_cell) even when a skewed cell is far larger than the
    # ~corpus/n_cells target (compute stays O(n_cell^2) — that is the
    # operator's contract; size n_cells to bound it).
    thr = float(threshold)

    def _drop_ids(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"__drop__": pdf["__id__"][:0]})
        pdf = pdf.sort_values("__id__")
        U = np.stack(pdf["__v__"].to_numpy())
        n = len(U)
        dropped = np.zeros(n, dtype=bool)
        B = 1024  # B x B gram tiles -> O(B^2) memory, any cell size
        for s in range(0, n - 1, B):
            e = min(s + B, n)
            for t in range(s, n, B):
                t2 = min(t + B, n)
                G = U[s:e] @ U[t:t2].T
                ri, ci = np.nonzero(G >= thr)
                i, j = ri + s, ci + t
                dropped[np.unique(j[j > i])] = True
        hit = np.flatnonzero(dropped)
        return pd.DataFrame({"__drop__": pdf["__id__"].to_numpy()[hit]})

    drops = assigned.groupBy("__cell__").applyInPandas(
        _drop_ids, schema=f"__drop__ {id_type}"
    )
    kept = df._sdf.join(drops, on=idc == F.col("__drop__"), how="left_anti")
    return EDF(kept, schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ): m-subspace codebooks, ADC search
# ---------------------------------------------------------------------------

def pq_train(
    df: "DataFrame",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
    train_rows: int = 65536,
    seed_strategy: str = "first",
) -> list[list[list[float]]]:
    """Train PQ codebooks: split vectors into ``m`` subspaces, k-means
    each to ``k`` centroids. Returns codebooks[m][k][d/m].

    Training runs driver-side numpy over a bounded sample (the FAISS
    convention — codebooks are model-sized and converge on ~1e5 rows;
    ``train_rows`` caps the collect, ordered by id for determinism).
    ``seed_strategy='first'`` + ``max_iter=0`` makes the codebook the
    first k rows' subvectors — fully SQL-replayable (the oracle
    contract, same convention as ivf_index).
    """
    import numpy as np

    schema = df._schema
    rows = (
        df._sdf.select(
            F.col(schema.resolve(id_col)).alias("i"),
            F.col(schema.resolve(vec_col)).alias("v"),
        )
        .orderBy("i")
        .limit(train_rows)
        .collect()
    )
    X = np.stack([r["v"] for r in rows]).astype(np.float64)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        if seed_strategy == "first":
            C = S[:k].copy()
        else:
            idx = np.argsort(
                [hash((j, i)) % (1 << 31) for i in range(n)]
            )[:k]
            C = S[idx].copy()
        for _ in range(max_iter):
            dists = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
            cells = dists.argmin(axis=1)
            for c in range(k):
                mask = cells == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def pq_encode(
    sdf,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_code",
):
    """Encode vectors to ``m`` small codes (array<int>): per subspace,
    index of the nearest codebook centroid. One Arrow-vectorized
    map-only pass (numpy argmin per subspace tile) — at m=8, k=16 the
    code is 8 small ints per vector, a 32x storage/shuffle cut at
    dim 64 float32. Ties break to the lowest index (matches SQL
    argmin replay)."""
    import numpy as np

    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(B)
    sub = B[0].shape[1]
    out_schema = f"__id__ long, {out_col} array<int>"

    def emit(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["__vec__"].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * sub : (j + 1) * sub]
                d = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=-1)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"__id__": pdf["__id__"].to_numpy(), out_col: list(codes)}
            )

    return sdf.select(
        F.col(id_col).alias("__id__"), F.col(vec_col).alias("__vec__")
    ).mapInPandas(emit, schema=out_schema).withColumnRenamed("__id__", id_col)


def pq_adc_distances(
    code_col, query_vec: list[float], codebooks: list[list[list[float]]]
):
    """Asymmetric-distance Column: per subspace, the exact
    ||q_sub - centroid||^2 is precomputed into a lookup table literal
    (m x k doubles, ~1 KB), so scoring a row is m array lookups — the
    FAISS ADC trick as a Catalyst expression, whole scan, zero Python."""
    m = len(codebooks)
    lut = []
    sub = len(codebooks[0][0])
    for j in range(m):
        q = query_vec[j * sub : (j + 1) * sub]
        lut.append(
            [
                float(sum((qq - cc) ** 2 for qq, cc in zip(q, c)))
                for c in codebooks[j]
            ]
        )
    lut_lit = F.lit(lut)
    return F.aggregate(
        F.zip_with(
            F.sequence(F.lit(1), F.lit(m)),
            code_col,
            lambda j, c: F.element_at(F.element_at(lut_lit, j), c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_topk(
    df: "DataFrame",
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Approximate top-k by ADC distance over PQ codes, optionally
    exact-reranked: take ``rerank`` ADC candidates (TakeOrdered — no
    full sort), then re-score those few rows with exact cosine.
    Returns (id, adist [, cos]) ordered ascending by the final metric
    with id tie-breaks — deterministic across engines."""
    schema = df._schema
    sdf = df._sdf
    coded = pq_encode(
        sdf.select(
            F.col(schema.resolve(id_col)).alias(id_col),
            F.col(schema.resolve(vec_col)).alias(vec_col),
        ),
        codebooks,
        vec_col,
        id_col,
    )
    adist = pq_adc_distances(F.col("pq_code"), query_vec, codebooks)
    scored = coded.select(id_col, adist.alias("adist"))
    take = max(k, rerank)
    top = scored.orderBy(F.col("adist").asc(), F.col(id_col).asc()).limit(take)
    if not rerank:
        return top
    qlit = _vec_lit([float(x) for x in query_vec])
    vecs = sdf.select(
        F.col(schema.resolve(id_col)).alias(id_col),
        F.col(schema.resolve(vec_col)).alias("__v__"),
    )
    return (
        top.join(F.broadcast(vecs), id_col)
        .select(
            id_col,
            F.col("adist"),
            cosine(F.col("__v__"), qlit).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    df: "DataFrame",
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """IVF-PQ: the two scale levers composed — coarse centroids prune
    the scan to ``nprobe`` cells, PQ/ADC scores only the surviving
    rows (m array lookups each), exact cosine reranks the short list.
    At 100 TB with the table written cell-partitioned (ivf_write) the
    candidate fetch is a partition-pruned read and the scored bytes
    are the m-byte codes, not the vectors — the FAISS IVFADC layout
    as a Catalyst plan."""
    import numpy as np

    schema = df._schema
    sdf = df._sdf
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(((C - q) ** 2).sum(axis=1), kind="stable")
    probes = [int(x) for x in order[:nprobe]]

    cand = sdf.select(
        F.col(schema.resolve(id_col)).alias(id_col),
        F.col(schema.resolve(vec_col)).alias(vec_col),
    ).where(nearest_cell(F.col(vec_col), centroids).isin(probes))
    coded = pq_encode(cand, codebooks, vec_col, id_col)
    adist = pq_adc_distances(F.col("pq_code"), list(query_vec), codebooks)
    take = max(k, rerank)
    top = (
        coded.select(id_col, adist.alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(take)
    )
    qlit = _vec_lit([float(x) for x in query_vec])
    return (
        top.join(F.broadcast(cand), id_col)
        .select(id_col, "adist", cosine(F.col(vec_col), qlit).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )

def maxsim_topk(
    sdf,
    queries: "Sequence[Sequence[float]]",
    k: int = 10,
    vec_col: str = "embedding",
    group_col: str = "doc_id",
):
    """ColBERT-style late-interaction retrieval: MaxSim scoring over
    multi-vector documents (Khattab & Zaharia 2020, "ColBERT: Efficient
    and Effective Passage Search via Contextualized Late Interaction").

    Documents are bags of token vectors — one INPUT ROW per token
    vector, grouped by ``group_col``. The score is
    ``sum_i max_j (q_i · d_j)``: every query token finds its best
    document token, independently.

    Plan shape at 100 TB: the per-(row, query-token) dot products are
    zero-shuffle zip_with folds against BROADCAST literal query
    vectors; the max-per-token reduction is ONE hash aggregation on
    the document key (max is map-side combinable, so the exchange
    carries |docs| x |query tokens| doubles, never token vectors); the
    final sum is a projection and top-k plans as
    TakeOrderedAndProject. No explode, no join, one exchange.

    Returns (id, maxsim double rounded 6dp), ties broken on id.
    """
    if not queries:
        raise ValueError("maxsim_topk: need at least one query vector")
    e, g = F.col(vec_col), F.col(group_col)
    per = sdf.select(
        g.alias("id"),
        *[dot(e, _vec_lit(q)).alias(f"__s{i}__") for i, q in enumerate(queries)],
    )
    agg = per.groupBy("id").agg(
        *[F.max(f"__s{i}__").alias(f"__m{i}__") for i in range(len(queries))]
    )
    total = F.col("__m0__")
    for i in range(1, len(queries)):
        total = total + F.col(f"__m{i}__")
    return (
        agg.select("id", F.round(total, 6).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("id"))
        .limit(k)
    )


def cluster_metrics(
    sdf,
    centroids: list[list[float]],
    vec_col: str = "embedding",
):
    """Clustering quality in one pass: per-cluster size, inertia (the
    k-means objective — sum of squared L2 to the OWN centroid) and the
    centroid-based simplified silhouette (a = distance to own
    centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b) — the bounded O(n·k) approximation of the
    O(n²) pairwise silhouette; identical ranking behavior for
    well-separated clusters).

    Plan: centroids ride as ONE nested-array literal; the per-row
    distance array is materialized ONCE (a projection boundary — tree
    expansion discipline), own/other distances come from its sorted
    copy, and everything reduces through a single map-side-combinable
    hash aggregation on the cell id. O(n·k·d) flops, one exchange of
    k rows, at any corpus size.

    Returns (cell int, n long, inertia double, silhouette double,
    both rounded 6dp), ordered by cell."""
    if len(centroids) < 2:
        raise ValueError("cluster_metrics: need >= 2 centroids for silhouette")
    carr = array_lit([[float(x) for x in c] for c in centroids], "array<double>")
    v = F.col(vec_col)
    dists = F.transform(
        carr,
        lambda c: F.aggregate(
            F.zip_with(
                v, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    per = sdf.select(dists.alias("__d__"))
    d = F.col("__d__")
    cell = (F.array_position(d, F.array_min(d)) - 1).cast("int")
    srt = F.array_sort(d)
    a = F.sqrt(F.element_at(srt, 1))
    b = F.sqrt(F.element_at(srt, 2))
    sil = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    rows = per.select(
        cell.alias("cell"),
        F.element_at(srt, 1).alias("__sq__"),
        sil.alias("__sil__"),
    )
    return (
        rows.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("__sq__"), 6).alias("inertia"),
            F.round(F.avg("__sil__"), 6).alias("silhouette"),
        )
        .orderBy("cell")
    )


def mmr_rerank(
    cands,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "score",
    vec_col: str = "embedding",
    k: int = 10,
    lam: float = 0.5,
):
    """Maximal Marginal Relevance re-ranking of per-query candidate
    lists (Carbonell & Goldstein 1998): greedily pick ``k`` results
    maximizing ``lam * relevance - (1 - lam) * max cosine to the
    already-selected set`` — the diversity pass between retrieval and
    the context window (near-duplicate passages waste prompt tokens).
    First pick is pure relevance (empty-set penalty is 0); ties break
    to the lowest id on every step so the selection is deterministic
    and engine-replayable. Rows with a null OR NaN relevance/vector
    (or a null query/id) drop.

    Scale shape: the candidate frame is already BOUNDED per query
    (top-N out of ``knn_join``/``ivf_topk``), so one applyInPandas
    grouped on the query id does each greedy in-memory over its own
    <=N rows — per-query work is O(k * N * dim), groups parallelize
    across executors, and nothing global shuffles or collects. The
    pairwise dot products accumulate SEQUENTIALLY in float64 (matching
    the engine's zip_with fold and DuckDB's list_dot_product) and the
    penalty cosine is rounded to 9dp before it feeds the score, so a
    SQL oracle replays the same greedy even if either engine's
    dot-product vectorization drifts by an ulp.

    Returns ``(query_col, id_col, mmr_score, rnk)``.
    """
    import pandas as pd

    from pyspark.sql import types as T

    sdf = cands.to_spark() if hasattr(cands, "to_spark") else cands
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if k < 1:
        raise ValueError("k must be >= 1")
    # NaN must drop with the nulls: a NaN relevance (or NaN vector
    # component feeding the cosine) poisons the greedy's comparisons —
    # every '>' against a NaN best is False, so whichever row happens
    # to sit first in the Arrow batch would win, breaking the
    # determinism contract (r7 review finding)
    base = sdf.select(query_col, id_col, rel_col, vec_col).where(
        F.col(query_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(rel_col).isNotNull()
        & ~F.isnan(F.col(rel_col).cast("double"))
        & F.col(vec_col).isNotNull()
        & ~F.exists(
            F.col(vec_col),
            lambda v: v.isNull() | F.isnan(v.cast("double")),
        )
    )
    qf = base.schema[query_col]
    idf = base.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(query_col, qf.dataType, True),
            T.StructField(id_col, idf.dataType, True),
            T.StructField("mmr_score", T.DoubleType(), True),
            T.StructField("rnk", T.IntegerType(), True),
        ]
    )

    def _sdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qid = pdf[query_col].iloc[0]
        ids = pdf[id_col].tolist()
        rel = [float(r) for r in pdf[rel_col]]
        vecs = pdf[vec_col].tolist()
        n = len(ids)
        norms = [_sdot(v, v) ** 0.5 for v in vecs]
        taken = [False] * n
        # true max cosine to the selected set (can be negative); None
        # until the set is nonempty — the empty-set penalty is 0
        pen: list = [None] * n
        out_rows = []
        for step in range(min(k, n)):
            best = None
            for i in range(n):
                if taken[i]:
                    continue
                p = pen[i] if pen[i] is not None else 0.0
                s = lam * rel[i] - (1.0 - lam) * p
                if (
                    best is None
                    or s > best[0]
                    or (s == best[0] and ids[i] < best[1])
                ):
                    best = (s, ids[i], i)
            s, bid, bi = best
            taken[bi] = True
            out_rows.append((qid, bid, s, step + 1))
            for i in range(n):
                if taken[i]:
                    continue
                # zero-norm vectors contribute similarity 0 by contract
                if norms[bi] > 0.0 and norms[i] > 0.0:
                    # rounded to 9dp so greedy selection ties can never
                    # hinge on 1-ulp dot-product drift between engines
                    # (the relevance side is rounded by the caller; the
                    # penalty side must be too, or a vectorization/FMA
                    # change in either engine could flip a tie)
                    c = round(
                        _sdot(vecs[i], vecs[bi]) / (norms[i] * norms[bi]), 9
                    )
                else:
                    c = 0.0
                if pen[i] is None or c > pen[i]:
                    pen[i] = c
        return pd.DataFrame(
            out_rows, columns=[query_col, id_col, "mmr_score", "rnk"]
        )

    return base.groupBy(query_col).applyInPandas(_greedy, out_schema)
