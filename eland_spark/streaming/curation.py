"""Streaming corpus-curation operators.

Stateless per-row twins of the batch curation gates in ``operators/``:
each document is judged from its own text plus a SMALL broadcast-side
artifact (a benchmark shingle set, a quality formula), so the stream
needs no aggregation state, no watermark, and works in plain append
mode — the shape that keeps a 100 TB/day ingest pipeline's state store
empty. Corpus-global decisions (near-dup clustering, corpus-frequency
boilerplate) stay batch jobs by nature; run them on the landed data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._literals import array_lit
from ..operators.dedup import shingles
from ..operators.text import quality_score
from .sinks import _read_batches, _write_batches

__all__ = [
    "stream_contamination_flags",
    "stream_quality_filter",
    "stream_gopher_gate",
    "stream_c4_clean",
    "stream_bloom_update",
    "read_bloom",
    "stream_cms_update",
    "read_cms",
    "stream_minhash_update",
    "read_minhash",
    "stream_survival_counts_update",
    "read_kaplan_meier",
]


def stream_contamination_flags(
    stream_sdf: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str | None = None,
    out_col: str = "contaminated",
    k: int = 8,
    max_shingles: int = 100_000,
) -> DataFrame:
    """Streaming twin of ``operators/dedup.contamination_flags``: flag
    rows sharing any word ``k``-shingle with a (batch) benchmark
    corpus. The benchmark's distinct shingles are collected ONCE at
    plan time (eval sets are small; ``max_shingles`` guards the driver
    like pivot's explicit-values cap) and shipped as an array literal,
    so the per-row check ``arrays_overlap(shingles(text), bench)`` is a
    pure stateless map — append-mode safe, zero state store.

    ``benchmark`` must be a BATCH DataFrame (the reference corpus);
    ``stream_sdf`` may be a streaming or batch frame — the same plan
    serves both, which is how the batch-twin test pins equality.
    """
    btext = F.col(bench_text_col or text_col)
    bench_rows = (
        benchmark.select(F.explode(shingles(btext, k)).alias("s"))
        .distinct()
        .limit(max_shingles + 1)
        .collect()
    )
    if len(bench_rows) > max_shingles:
        raise ValueError(
            f"benchmark has more than {max_shingles} distinct shingles; "
            "raise max_shingles or pre-hash the benchmark"
        )
    bench_lit = array_lit([r["s"] for r in bench_rows], "string") if bench_rows else None
    if bench_lit is None:
        flag = F.lit(False)
    else:
        flag = F.arrays_overlap(shingles(F.col(text_col), k), bench_lit)
    return stream_sdf.withColumn(out_col, F.coalesce(flag, F.lit(False)))


def stream_quality_filter(
    stream_sdf: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    out_col: str = "quality",
) -> DataFrame:
    """Streaming quality gate: append the composite quality score
    (operators/text.quality_score — pure Column expressions) and keep
    rows at or above ``min_quality``. Stateless; append-mode safe."""
    scored = stream_sdf.withColumn(out_col, quality_score(F.col(text_col)))
    return scored.filter(F.col(out_col) >= min_quality)


def stream_classifier_gate(
    stream_sdf: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    bias: float = 0.0,
    threshold: float = 0.5,
    out_col: str = "quality_prob",
) -> DataFrame:
    """Streaming twin of ``operators/text.classifier_quality_gate``:
    the fastText-style linear classifier (trained vocab broadcast as a
    map literal) as a stateless scan predicate — append-mode safe,
    zero state store. The same plan serves batch frames, which is how
    the twin test pins equality."""
    from ..operators.text import linear_classifier_score

    scored = stream_sdf.withColumn(
        out_col, linear_classifier_score(F.col(text_col), weights, bias)
    )
    return scored.filter(F.col(out_col) >= threshold)


def stream_gopher_gate(
    stream_sdf: DataFrame,
    text_col: str = "text",
    keep_only: bool = True,
    **thresholds,
) -> DataFrame:
    """Streaming Gopher quality gate: append the A1.1 signal/rule/pass
    columns (operators/text.add_gopher_columns — pure Column
    expressions) and, with ``keep_only``, retain passing rows.
    Stateless; append-mode safe; identical plan serves batch frames
    (the twin-test contract)."""
    from ..operators.text import add_gopher_columns

    out = add_gopher_columns(stream_sdf, text_col, **thresholds)
    return out.filter(F.col("gopher_pass")) if keep_only else out


def stream_c4_clean(
    stream_sdf: DataFrame,
    text_col: str = "text",
    keep_only: bool = True,
    **options,
) -> DataFrame:
    """Streaming C4 cleanup: append ``clean_text`` + page-rule columns
    (operators/text.add_c4_columns) and, with ``keep_only``, retain
    pages passing the C4 verdict. Stateless; append-mode safe."""
    from ..operators.text import add_c4_columns

    out = add_c4_columns(stream_sdf, text_col, **options)
    return out.filter(F.col("c4_keep")) if keep_only else out


def stream_url_dedup(
    stream_sdf: DataFrame,
    url_col: str,
    ts_col: str,
    watermark: str = "1 hour",
    canon_col: str = "url_canonical",
) -> DataFrame:
    """Streaming exact-URL dedup: canonicalize
    (operators/urls.canonical_url — tracking params, default ports,
    case, trailing slash) then ``dropDuplicatesWithinWatermark`` on the
    canonical key. State is bounded by the watermark horizon — the
    at-ingest half of URL dedup; run the batch ``dedup_by_url`` over
    landed data for the corpus-global pass."""
    from ..operators.urls import canonical_url

    canon = stream_sdf.withColumn(canon_col, canonical_url(F.col(url_col)))
    if canon.isStreaming:
        return canon.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [canon_col]
        )
    return canon.dropDuplicates([canon_col])




def stream_bloom_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    by=(),
    m_bits: int = 4096,
    n_hashes: int = 4,
    timeout_sec: int = 120,
):
    """Maintain per-group Bloom membership sketches over a stream —
    the incremental half of the cross-snapshot dedup gate
    (operators/sketches.bloom_*): each micro-batch reduces to its own
    sparse sketch rows under ``<path>/batch=<id>/`` (idempotent in
    batch_id, the foreachBatch retry contract), and merge happens AT
    READ TIME because Bloom's merge is bitwise OR — no read-modify-
    write race, no state store, append-mode safe. Compaction =
    rewrite :func:`read_bloom`'s output and drop old dirs."""
    from ..operators.sketches import bloom_sketches

    by = list(by)
    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: bloom_sketches(df, value_col, by, m_bits, n_hashes),
        timeout_sec=timeout_sec,
    )


def stream_kmv_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    by=(),
    k: int = 256,
    timeout_sec: int = 120,
):
    """Maintain per-group KMV distinct-count sketches over a stream —
    continuous cardinality monitoring (distinct URLs/domains/doc ids
    seen so far) without a state store. Same merge-on-read contract as
    :func:`stream_bloom_update`: each micro-batch writes its own
    sketch rows under ``<path>/batch=<id>/`` (idempotent in batch_id),
    and because the K smallest hashes of a union ARE the union of
    sketches re-trimmed to K, merging at read time
    (:func:`read_kmv`) is lossless — identical to a from-scratch
    sketch of everything ingested."""
    from ..operators.sketches import kmv_sketches

    by = list(by)
    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: kmv_sketches(df, value_col, by, k),
        timeout_sec=timeout_sec,
    )


def read_kmv(spark, path: str, by=(), k: int = 256) -> DataFrame:
    """Merge-on-read over a :func:`stream_kmv_update` directory:
    distinct-union the per-batch hash arrays, keep the K smallest, and
    estimate — one aggregation over sketch rows (never raw data).
    Returns ``estimate`` per group."""
    from ..operators.sketches import kmv_rollup_estimate

    return kmv_rollup_estimate(_read_batches(spark, path), by=list(by), k=k)


def stream_sample_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    id_col: str,
    by=(),
    k: int = 512,
    timeout_sec: int = 120,
):
    """Maintain per-group bottom-k row samples over a stream —
    continuous quantile monitoring (e.g. quality-score p50/p95 of
    everything ingested so far) with the same merge-on-read contract
    as the Bloom/KMV paths: per-batch sketch dirs idempotent in
    batch_id; the K smallest row-keys of a union are the union of
    sketches re-trimmed to K, so the merged sample is identical to
    sketching all ingested rows at once."""
    from ..operators.sketches import sample_sketches

    by = list(by)
    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: sample_sketches(df, value_col, id_col, by, k),
        timeout_sec=timeout_sec,
    )


def read_sample(spark, path: str, by=(), k: int = 512) -> DataFrame:
    """Merge-on-read over a :func:`stream_sample_update` directory:
    one rollup aggregation over sketch rows; feed the result to
    ``operators.sketches.quantile_from_sample``."""
    from ..operators.sketches import sample_rollup

    return sample_rollup(_read_batches(spark, path), by=list(by), k=k)


def read_bloom(spark, path: str, by=()) -> DataFrame:
    """Merge-on-read over a :func:`stream_bloom_update` directory:
    bit_or per (group, word) across every batch sketch — identical to
    a from-scratch sketch of everything ingested (OR is the Bloom
    merge), ready for ``operators/sketches.bloom_contains``."""
    return _read_batches(spark, path).groupBy(*list(by), "word").agg(
        F.bit_or("bits").alias("bits")
    )


def stream_cms_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    by=(),
    depth: int = 4,
    width: int = 256,
    timeout_sec: int = 120,
):
    """Maintain per-group count-min frequency sketches over a stream —
    continuous "how often has key x occurred so far" monitoring with
    the same merge-on-read contract as the Bloom/KMV/bottom-k paths:
    each micro-batch writes its own sparse counter rows under
    ``<path>/batch=<id>/`` (idempotent in batch_id), and because CMS
    merges by plain counter ADDITION, summing at read time
    (:func:`read_cms`) is lossless — identical to a from-scratch
    sketch of everything ingested."""
    from ..operators.sketches import cms_sketches

    by = list(by)
    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: cms_sketches(df, value_col, by, depth, width),
        timeout_sec=timeout_sec,
    )


def read_cms(spark, path: str, by=()) -> DataFrame:
    """Merge-on-read over a :func:`stream_cms_update` directory: sum
    counters per (group, row, bucket) across every batch sketch —
    identical to a from-scratch sketch of everything ingested, ready
    for ``operators/sketches.cms_estimate``."""
    from ..operators.sketches import cms_rollup

    return cms_rollup(_read_batches(spark, path), by=list(by))


def stream_mg_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    by=(),
    k: int = 64,
    timeout_sec: int = 120,
):
    """Maintain per-group Misra-Gries heavy-hitter sketches over a
    stream — continuous "what are the frequent items so far"
    monitoring, completing the sketch-streaming matrix (Bloom/KMV/CMS/
    bottom-k share the contract): each micro-batch writes its own
    <=k-entry sketch under ``<path>/batch=<id>/`` (idempotent in
    batch_id), and :func:`read_mg` merges at read time by counter
    addition + re-compression — the classic mergeable-summaries MG
    merge (Agarwal et al. 2012), which keeps the union guarantee
    (every item with true frequency > n/(k+1) present, undercount
    bounded) and is EXACT — identical to a from-scratch sketch — while
    total distinct items stay <= k."""
    from ..operators.sketches import mg_sketches

    by = list(by)
    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: mg_sketches(df, value_col, by, k),
        timeout_sec=timeout_sec,
    )


def read_mg(spark, path: str, by=(), k: int = 64) -> DataFrame:
    """Merge-on-read over a :func:`stream_mg_update` directory: explode
    every batch sketch, sum per item, re-compress to <=k entries
    (operators/sketches.mg_rollup) — ready for
    ``operators/sketches.mg_items``."""
    from ..operators.sketches import mg_rollup

    return mg_rollup(_read_batches(spark, path), by=list(by), k=k)


def stream_regression_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    x_col: str,
    y_col: str,
    by=(),
    timeout_sec: int = 120,
):
    """Maintain per-group OLS sufficient statistics over a stream —
    continuous trend monitoring (``y`` vs ``x``, e.g. metric vs epoch
    time: is quality drifting batch over batch?). Each micro-batch
    writes ONE row per group of complete-pair power sums
    ``(n, sx, sy, sxx, syy, sxy)`` under ``<path>/batch=<id>/``
    (idempotent in batch_id); sums merge by plain ADDITION, so
    :func:`read_linear_fit` recovers the regression of everything
    ingested at read time with zero state store — the streaming twin
    of ``operators/timeseries.linear_fit``. Raw power sums are
    monitoring-grade numerics (the batch operator's builtin regr_*
    is the stable path); pair with a shifted/centered x (e.g. epoch
    minus a fixed origin) for large-magnitude covariates."""
    by = list(by)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")

    def stats(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(x.isNotNull() & y.isNotNull())
            .groupBy(*by)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(x).alias("sx"),
                F.sum(y).alias("sy"),
                F.sum(x * x).alias("sxx"),
                F.sum(y * y).alias("syy"),
                F.sum(x * y).alias("sxy"),
            )
        )

    return _write_batches(
        stream_sdf, path, checkpoint, stats, timeout_sec=timeout_sec
    )


def read_linear_fit(spark, path: str, by=()) -> DataFrame:
    """Merge-on-read over a :func:`stream_regression_update` directory:
    sum the per-batch sufficient statistics per group and derive
    ``(by..., slope, intercept, r2, n)`` — null slope/r2 for constant
    x and r2 = 1.0 for constant y with varying x, matching the batch
    operator's REGR_* conventions (Spark regr_r2)."""
    by = list(by)
    df = _read_batches(spark, path)
    sums = [F.sum(c).alias(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy")]
    tot = df.groupBy(*by).agg(*sums) if by else df.agg(*sums)
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(vx > 0, cxy / vx)
    intercept = F.when(vx > 0, (F.col("sy") - slope * F.col("sx")) / n)
    # SQL-standard REGR_R2 (Spark's regr_r2, which the batch linear_fit
    # uses): null for constant x; 1.0 for constant y with varying x (the
    # regression line y = mean(y) fits exactly); else the squared
    # correlation. The inner CASE keeps the vy=0 branch from dividing.
    r2 = F.when(
        vx > 0,
        F.when(vy > 0, (cxy * cxy) / (vx * vy)).otherwise(F.lit(1.0)),
    )
    return tot.select(
        *by,
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
        F.col("n").cast("bigint").alias("n"),
    )


def stream_drift_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    edges=None,
    timeout_sec: int = 120,
):
    """Maintain drift bin counts over a stream — the streaming half of
    ``operators/drift``: each micro-batch writes its own bin-count rows
    ``(bin, n)`` under ``<path>/batch=<id>/`` (idempotent in
    batch_id), binned exactly as the batch ``drift_bins``. Bin counts
    merge by plain ADDITION, so summing at read time
    (:func:`read_drift_bins`) is lossless — the merged counts equal a
    from-scratch binning of everything ingested, ready to PSI against
    a reference snapshot. Numeric mode needs the same explicit
    ``edges`` at every call site (they define the bin ids)."""
    from ..operators.drift import _bin_counts

    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: _bin_counts(df, value_col, edges, "n"),
        timeout_sec=timeout_sec,
    )


def read_drift_bins(spark, path: str) -> DataFrame:
    """Merge-on-read over a :func:`stream_drift_update` directory: sum
    bin counts across batches — lossless (counts add)."""
    return _read_batches(spark, path).groupBy("bin").agg(
        F.sum("n").alias("n")
    )


def stream_value_counts_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    timeout_sec: int = 120,
):
    """Maintain EXACT per-distinct-value counts over a stream — the
    bin-free complement of :func:`stream_drift_update` and the
    streaming feed for the rank-based two-sample tests (exact KS and
    tie-corrected Mann-Whitney need true value counts, which no fixed
    bin edges can reconstruct). Each micro-batch writes its own
    (v, n) rows under ``<path>/batch=<id>/`` (idempotent in batch_id);
    counts merge by plain ADDITION, so summing at read time is
    lossless — :func:`read_rank_scorecard` over the store equals the
    batch ``operators/drift.rank_scorecard`` of everything ingested.
    Null and NaN values are dropped at write time (the tests' missing
    semantics, the batch operators' own counting step), so the store
    only ever holds scoreable values."""
    from ..operators.drift import _value_counts

    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: _value_counts(df, value_col, "n")
        .withColumnRenamed("__v__", "v"),
        timeout_sec=timeout_sec,
    )


def read_value_counts(spark, path: str) -> DataFrame:
    """Merge-on-read over a :func:`stream_value_counts_update`
    directory: sum per-value counts across batches — lossless."""
    return _read_batches(spark, path).groupBy("v").agg(F.sum("n").alias("n"))


def read_rank_scorecard(spark, path: str, ref: DataFrame, column: str) -> DataFrame:
    """Exact KS + Mann-Whitney between a batch REFERENCE snapshot and
    the streamed CURRENT distribution maintained by
    :func:`stream_value_counts_update` — merge the per-batch value
    counts (lossless addition) and run the shared
    ``rank_scorecard_from_counts`` core, so the streamed reading
    equals the batch ``rank_scorecard(ref, everything_ingested)``
    exactly (batch-twin pinned in tests). Returns the same 1-row
    ``(ks, u, z, n_ref, n_cur)`` frame."""
    from ..operators.drift import _value_counts, rank_scorecard_from_counts

    cc = read_value_counts(spark, path).select(
        F.col("v").alias("__v__"), F.col("n").alias("__cn__")
    )
    return rank_scorecard_from_counts(_value_counts(ref, column, "__rn__"), cc)


def stream_keyed_value_counts_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str,
    value_col: str,
    timeout_sec: int = 120,
):
    """Maintain EXACT per-(key, distinct value) counts over a stream —
    the keyed extension of :func:`stream_value_counts_update` that
    feeds the per-feature drift battery: each micro-batch writes its
    own (k, v, n) rows under ``<path>/batch=<id>/`` (idempotent in
    batch_id), counts merge by plain ADDITION, so
    :func:`read_ks_battery` over the store equals the batch
    ``operators/drift.ks_battery`` of everything ingested, exactly.
    Null keys and null/NaN values are dropped at write time."""
    from ..operators.drift import _value_counts

    key = F.col(key_col).alias("k")
    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: _value_counts(df, value_col, "n", key)
        .withColumnRenamed("__v__", "v"),
        timeout_sec=timeout_sec,
    )


def read_keyed_value_counts(spark, path: str) -> DataFrame:
    """Merge-on-read over a :func:`stream_keyed_value_counts_update`
    directory: sum per-(key, value) counts across batches — lossless."""
    return _read_batches(spark, path).groupBy("k", "v").agg(
        F.sum("n").alias("n")
    )


def read_ks_battery(
    spark, path: str, ref: DataFrame, key_col: str, column: str,
    terms: int = 20,
) -> DataFrame:
    """Per-key exact KS battery between a batch REFERENCE snapshot and
    the streamed CURRENT distributions maintained by
    :func:`stream_keyed_value_counts_update` — merge the per-batch
    keyed counts (lossless addition) and run the shared
    ``ks_battery_from_counts`` core, so the streamed reading equals
    the batch ``ks_battery(ref, everything_ingested)`` exactly
    (batch-twin pinned in tests). Returns ``(key_col, ks, p, n_ref,
    n_cur)``; feed ``p`` to ``operators/drift.fdr_bh`` for the
    FDR-controlled nightly gate."""
    from ..operators.drift import _value_counts, ks_battery_from_counts

    rc = _value_counts(ref, column, "__rn__", F.col(key_col).alias("__k__"))
    cc = read_keyed_value_counts(spark, path).select(
        F.col("k").alias("__k__"), F.col("v").alias("__v__"),
        F.col("n").alias("__cn__"),
    )
    return ks_battery_from_counts(rc, cc, terms=terms).withColumnRenamed(
        "key", key_col
    )


def stream_minhash_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
    timeout_sec: int = 120,
):
    """Maintain a banded MinHash NEAR-dup index over a stream — the
    fuzzy complement of the :func:`stream_bloom_update` exact gate.
    Each micro-batch reduces to its documents'
    ``operators/dedup.minhash_index_rows`` (id, sig, keys) under
    ``<path>/batch=<id>/`` (idempotent in batch_id, the foreachBatch
    retry contract). The store is append-only per-doc rows, so merge
    at read time is a plain union (:func:`read_minhash`) — no
    read-modify-write, no state store. History is signed exactly once;
    tonight's increment probes it with
    ``operators/dedup.minhash_probe`` (increment broadcast, the 100 TB
    index streaming map-only through candidate generation)."""
    from ..operators.dedup import minhash_index_rows

    return _write_batches(
        stream_sdf, path, checkpoint,
        lambda df: minhash_index_rows(
            df, F.col(text_col), F.col(id_col),
            k=k, num_hashes=num_hashes, bands=bands, portable=portable,
        ),
        timeout_sec=timeout_sec,
    )


def read_minhash(spark, path: str) -> DataFrame:
    """Union-read over a :func:`stream_minhash_update` directory —
    identical to from-scratch :func:`minhash_index_rows` of everything
    ingested (per-doc rows need no merge math). Compaction = rewrite
    this output and drop old batch dirs."""
    return _read_batches(spark, path).select("id", "sig", "keys")


def stream_survival_counts_update(
    stream_sdf: DataFrame,
    path: str,
    checkpoint: str,
    duration_col: str,
    event_col: str,
    group_col: "str | None" = None,
    timeout_sec: int = 120,
):
    """Maintain the Kaplan-Meier sufficient statistics over a stream
    of completed subjects: per micro-batch, per-(group, duration)
    ``n_event`` / ``n_censored`` counts land under
    ``<path>/batch=<id>/`` (idempotent in batch_id). Counts merge by
    plain ADDITION, so :func:`read_kaplan_meier` over the store
    equals the batch ``operators/survival.kaplan_meier`` of
    everything ingested EXACTLY — the streaming retention-curve
    maintenance twin, same contract as the keyed drift-battery store.
    Null durations/events drop at write time."""
    ev = F.col(event_col).cast("int")
    keys = [F.col(group_col).alias("g")] if group_col else []

    def counts(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(
                F.col(duration_col).isNotNull()
                & F.col(event_col).isNotNull()
            )
            .groupBy(*keys, F.col(duration_col).alias("t"))
            .agg(
                F.sum(ev).alias("n_event"),
                F.sum(1 - ev).alias("n_censored"),
            )
        )

    return _write_batches(
        stream_sdf, path, checkpoint, counts, timeout_sec=timeout_sec
    )


def read_kaplan_meier(spark, path: str) -> DataFrame:
    """Merge-on-read over a :func:`stream_survival_counts_update`
    store: sum the per-batch death/censor counts (lossless addition),
    then run the shared ``kaplan_meier_from_counts`` core — streamed
    reading == the batch estimator over everything ingested, exactly
    (batch-twin pinned in tests). Whether the store is grouped is
    detected from its schema (the writer emits a ``g`` column only
    when ``group_col`` was set), so the two halves of the twin cannot
    disagree on defaults. Returns the batch operator's
    (group?, t, n_risk, n_event, n_censored, survival) layout."""
    from ..operators.survival import kaplan_meier_from_counts

    df = _read_batches(spark, path)
    keys = ["g"] if "g" in df.columns else []
    merged = df.groupBy(*keys, "t").agg(
        F.sum("n_event").alias("n_event"),
        F.sum("n_censored").alias("n_censored"),
    )
    return kaplan_meier_from_counts(merged, "t", keys)
