"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md
§2 (plus the training-data-pipeline extensions); ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL. Every aggregate/computed column is
aliased identically on both sides; float outputs are rounded identically
on both sides (2dp money, 6dp ratios) so the order-insensitive value
hash is stable across engines.

All Spark-side queries go through the eland_spark engine facade — this
file doubles as the engine's end-to-end exercise.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF1 = "/root/testdata/sf0.001"

LINEITEM_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]


# source-frame cache: read_parquet re-lists files and re-reads footers
# per call, which is pure constant overhead when the bench rebuilds a
# query 3x and 80 queries share 10 tables. Frames are lazy and
# immutable (every op returns a new frame), so sharing one per
# (session, dir, table, index) is safe; keyed by the session id so a
# restarted session never serves stale plans.
_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str, index=None):
    import eland_spark as es

    # application id, not id(spark): Python ids are reused after GC,
    # which could serve frames bound to a stopped session
    key = (
        spark.sparkContext.applicationId, sf_dir, name,
        tuple(index) if isinstance(index, list) else index,
    )
    if key not in _T_CACHE:
        _T_CACHE[key] = es.read_parquet(
            spark, f"{sf_dir}/{name}.parquet", index_col=index
        )
    # defensive copy: __setitem__ mutates the INSTANCE (self._sdf), so
    # handing out the cached object would let one query's derived
    # columns accumulate onto every later query's source (found as a
    # reproducible bench regression — arithmetic's withColumns piled
    # onto the shared lineitem across runs)
    return _T_CACHE[key].copy()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1-style pricing summary on sf0.001."""
    return q_pricing_summary(spark, SF1)


# ---------------------------------------------------------------------------
# §2.5/2.6 — aggregations / groupby
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir) -> DataFrame:
    """TPC-H Q1 analog: filtered scan -> groupBy -> multi-agg."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    li = li[li.l_shipdate <= "1998-09-02"]
    sdf = li.to_spark()
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        sdf.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_agg_matrix(spark, sf_dir) -> DataFrame:
    """Whole-frame multi-agg in one Aggregate pass (min/max/sum/mean/
    std/var/count/nunique)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sdf = li.to_spark()
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    return sdf.agg(
        F.round(F.min(q), 2).alias("min_qty"),
        F.round(F.max(q), 2).alias("max_qty"),
        F.round(F.sum(q), 2).alias("sum_qty"),
        F.round(F.avg(q), 6).alias("avg_qty"),
        F.round(F.stddev_samp(q), 6).alias("std_qty"),
        F.round(F.var_samp(q), 6).alias("var_qty"),
        F.count(q).alias("count_qty"),
        F.countDistinct(F.col("l_partkey")).alias("nunique_partkey"),
        F.round(F.min(p), 2).alias("min_price"),
        F.round(F.max(p), 2).alias("max_price"),
        F.min(F.col("l_shipdate")).alias("min_shipdate"),
        F.max(F.col("l_shipdate")).alias("max_shipdate"),
    )


def q_median_quantile(spark, sf_dir) -> DataFrame:
    """Exact percentiles (reference uses approximate t-digest; exact is
    the oracle-matching default, SURVEY §7.0) via the sort-based
    operators.percentiles.exact_percentiles: l_extendedprice is
    near-unique (583k distinct / 600k rows at sf0.1), so the hash-agg
    ``percentile`` plan would build the whole column as a value map and
    merge it on ONE reducer — the sort plan range-partitions instead
    (no single-reducer state; measured faster at sf0.1 and the only
    viable shape at 100 TB). Only the 8 boundary rows reach the driver;
    they re-enter a 1-row DataFrame so the driver contract (return a
    DataFrame) and the oracle hash both hold."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    from eland_spark.operators.percentiles import exact_percentiles

    p25, p50, p75, p90 = exact_percentiles(
        li.to_spark(), "l_extendedprice", [0.25, 0.5, 0.75, 0.9]
    )
    row = spark.createDataFrame(
        [(float(p25), float(p50), float(p75), float(p90))],
        "p25 double, p50 double, p75 double, p90 double",
    )
    return row.select(*[F.round(c, 6).alias(c) for c in ("p25", "p50", "p75", "p90")])


def q_mad(spark, sf_dir) -> DataFrame:
    """Median absolute deviation, exact two-pass (broadcast the scalar
    median back over the scan — no driver-side math)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sdf = li.to_spark()
    med = sdf.agg(F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("m"))
    return (
        sdf.crossJoin(F.broadcast(med))
        .agg(
            F.round(
                F.percentile(F.abs(F.col("l_quantity") - F.col("m")), F.lit(0.5)), 6
            ).alias("mad_qty"),
            F.round(F.any_value(F.col("m")), 6).alias("median_qty"),
        )
    )


def q_mode_ties(spark, sf_dir) -> DataFrame:
    """Mode with tie handling: all values at max frequency (reference
    eland/operations.py:676-696). Ties resolve via a broadcast
    max-count join — the same plan Series.mode uses — NOT a global rank
    window, which would funnel the whole distinct-value table through
    one task on a high-cardinality column."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    counted = li.to_spark().groupBy(F.col("l_quantity").alias("val")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = counted.agg(F.max("cnt").alias("m"))
    return (
        counted.join(F.broadcast(top), counted["cnt"] == top["m"])
        .select("val", "cnt")
    )


def q_value_counts(spark, sf_dir) -> DataFrame:
    """Top-5 by frequency (terms-agg analog)."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    return (
        orders.to_spark()
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("priority"))
        .limit(5)
    )


def q_nunique(spark, sf_dir) -> DataFrame:
    """Exact distinct counts per column (cardinality-agg analog, exact
    mode per SURVEY §4 approximate-agg policy)."""
    ev = _t(spark, sf_dir, "events", "event_id")
    sdf = ev.to_spark()
    return sdf.agg(
        F.countDistinct("user_id").alias("nunique_user"),
        F.countDistinct("event_type").alias("nunique_type"),
        F.countDistinct("event_id").alias("nunique_event"),
    )


def q_idx_extremes(spark, sf_dir) -> DataFrame:
    """idxmax/idxmin via max_by/min_by (top_hits analog,
    reference eland/operations.py:207-254)."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    sdf = orders.to_spark()
    # o_orderdate has ties; encode (epoch_secs, orderkey) into one BIGINT
    # so the extremum is deterministic on every engine
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    secs = F.timestamp_diff("SECOND", epoch, F.col("o_orderdate"))
    packed = secs * F.lit(10000000) + F.col("o_orderkey")
    return sdf.agg(
        F.max_by(F.col("o_orderkey"), F.col("o_totalprice")).alias("idxmax_price"),
        F.min_by(F.col("o_orderkey"), F.col("o_totalprice")).alias("idxmin_price"),
        (F.max(packed) % F.lit(10000000)).alias("idxmax_date"),
    )


def q_count_nonnull(spark, sf_dir) -> DataFrame:
    """Per-column non-null counts, single job (reference issues one
    _count per field, eland/operations.py:148-174)."""
    ev = _t(spark, sf_dir, "events", "event_id")
    sdf = ev.to_spark()
    return sdf.agg(
        F.count("event_id").alias("count_event_id"),
        F.count("ts").alias("count_ts"),
        F.count("user_id").alias("count_user_id"),
        F.count("value").alias("count_value"),
        F.count("props").alias("count_props"),
    )


def q_describe(spark, sf_dir) -> DataFrame:
    """describe(): count/mean/std/min/quartiles/max for one column."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sdf = li.to_spark()
    c = F.col("l_discount")
    ps = F.percentile(c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return sdf.agg(
        F.count(c).alias("cnt"),
        F.round(F.avg(c), 6).alias("mean"),
        F.round(F.stddev_samp(c), 6).alias("std"),
        F.round(F.min(c), 6).alias("min"),
        ps.alias("ps"),
        F.round(F.max(c), 6).alias("max"),
    ).select(
        "cnt", "mean", "std", "min",
        F.round(F.element_at("ps", 1), 6).alias("p25"),
        F.round(F.element_at("ps", 2), 6).alias("p50"),
        F.round(F.element_at("ps", 3), 6).alias("p75"),
        "max",
    )


def q_hist(spark, sf_dir) -> DataFrame:
    """Histogram: min/max pass + floor-bucket groupBy with last-bucket
    fold (reference eland/operations.py:470-556)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sdf = li.to_spark()
    bins = 10
    mm = sdf.agg(F.min("l_quantity").alias("lo"), F.max("l_quantity").alias("hi"))
    j = sdf.crossJoin(F.broadcast(mm))
    bucket = F.floor(
        (F.col("l_quantity") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / bins)
    ).cast("long")
    bucket = F.when(bucket >= bins, bins - 1).otherwise(bucket)
    return (
        j.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_series_rank(spark, sf_dir) -> DataFrame:
    """pandas Series.rank(method='min') over a heavily tied column —
    global ranks via the windowless range-sort operator plus one
    value-partitioned window for ties (operators/ranking.py; no
    single-reducer cliff)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    return o["o_custkey"].rank(method="min").to_spark()


def q_resample_6h(spark, sf_dir) -> DataFrame:
    """pandas resample('6h') on the events stream table: epoch-floor
    bucketing (frame.resample) -> one hash aggregation (the
    date_histogram fixed-interval analog, reference
    eland/query.py:195-211)."""
    ev = _t(spark, sf_dir, "events", "event_id")
    g = ev.resample("6h", on="ts")
    return g._lazy(
        [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value")), 2).alias("v"),
        ]
    ).to_spark()


def q_rolling_window(spark, sf_dir) -> DataFrame:
    """Per-key trailing 6h rolling aggregates
    (operators/windowed.rolling_time_agg): RANGE BETWEEN on epoch
    seconds — one keyed shuffle, window-bounded state, no self-join."""
    from eland_spark.operators.windowed import rolling_time_agg

    ev = _t(spark, sf_dir, "events", "event_id")
    r = rolling_time_agg(ev, "user_id", "ts", "value", 6 * 3600, ["sum", "count"])
    return r.to_spark().select(
        "event_id",
        F.round("rolling_sum", 2).alias("roll_sum"),
        F.col("rolling_count").cast("bigint").alias("roll_n"),
    )


def q_asof_join(spark, sf_dir) -> DataFrame:
    """As-of join (pandas merge_asof; operators/asof.py): each click
    enriched with the user's most recent purchase value at-or-before
    the click. Union + one hash shuffle on user_id + fill-forward
    window — no range-join candidate explosion. DuckDB oracle uses its
    native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events", "event_id")
    clicks = ev[ev["event_type"] == "click"][["event_id", "user_id", "ts"]]
    purch = ev[ev["event_type"] == "purchase"][["user_id", "ts", "value"]]
    m = clicks.merge_asof(purch, on="ts", by="user_id")
    return m.to_spark().select(
        "event_id", F.round("value", 2).alias("purch_value")
    )


def q_asof_join_nearest(spark, sf_dir) -> DataFrame:
    """merge_asof direction='nearest' (operators/asof.py): each click
    takes the user's CLOSEST purchase in absolute time, ties backward
    like pandas — both running fills computed over the SAME single hash
    exchange (two local sorts, no join node, no second shuffle); picks
    compare at full microsecond precision."""
    ev = _t(spark, sf_dir, "events", "event_id")
    clicks = ev[ev["event_type"] == "click"][["event_id", "user_id", "ts"]]
    purch = ev[ev["event_type"] == "purchase"][["user_id", "ts", "value"]]
    m = clicks.merge_asof(purch, on="ts", by="user_id", direction="nearest")
    return m.to_spark().select(
        "event_id", F.round("value", 2).alias("purch_value")
    )


def q_hll_distinct(spark, sf_dir) -> DataFrame:
    """Materialized-HLL distinct counting (operators/sketches.py):
    per-group DataSketches sketches, rolled up by lossless merge —
    the 100 TB pattern where rollups never rescan raw data. At this
    cardinality (100 suppliers) the sparse-mode estimate is exact, so
    the DuckDB countDistinct oracle hash-matches."""
    from eland_spark.operators.sketches import hll_rollup_estimate, hll_sketches

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    sk = hll_sketches(li, "l_suppkey", ["l_returnflag", "l_linestatus"])
    return hll_rollup_estimate(sk, ["l_returnflag"]).select(
        "l_returnflag", F.col("estimate").cast("bigint").alias("n_supp")
    )


def q_pack_documents(spark, sf_dir) -> DataFrame:
    """Token-budget bin packing (operators/packing.py): greedy
    first-fit within partitions via mapInPandas — zero shuffle,
    partition-id-globalized bin ids. Stateful sequential logic, so no
    SQL oracle (rows-only check per the driver contract)."""
    from eland_spark.operators.packing import pack_documents
    from eland_spark.operators.text import bpe_ish_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wt = docs.select(
        "doc_id", bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_documents(wt, "doc_id", "n_tokens", 2048)


def q_pack_documents_seq(spark, sf_dir) -> DataFrame:
    """Sequential twin of pack_documents: a single doc_id-sorted
    partition pins the greedy next-fit scan order, so DuckDB replays
    the exact bin state machine with a recursive CTE — the packing
    operator's core logic is hash-checked end-to-end (pack_documents
    stays the zero-shuffle per-partition scale path)."""
    from eland_spark.operators.packing import pack_documents
    from eland_spark.operators.text import bpe_ish_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wt = (
        docs.select(
            "doc_id",
            bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    return pack_documents(wt, "doc_id", "n_tokens", 2048)


def q_pack_invariants(spark, sf_dir) -> DataFrame:
    """Oracle-gated INVARIANTS of the partition-parallel fast packing
    path (VERDICT r3 #4 — pack_documents itself is rows-only because
    bin ASSIGNMENT is partition-dependent, but its contract is not):
    every input doc packed exactly once, and no multi-doc bin exceeds
    the budget. The SQL oracle pins (n_docs, n_distinct, 0): any doc
    lost/duplicated or budget busted by the zero-shuffle state machine
    hash-mismatches here."""
    from eland_spark.operators.packing import pack_documents
    from eland_spark.operators.text import bpe_ish_token_count

    budget = 2048
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wt = docs.select(
        "doc_id", bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    packed = pack_documents(wt, "doc_id", "n_tokens", budget)
    bins = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("toks"), F.count(F.lit(1)).alias("docs")
    )
    a = bins.agg(
        F.sum("docs").cast("long").alias("n_docs"),
        F.sum(
            F.when((F.col("docs") >= 2) & (F.col("toks") > budget), 1).otherwise(0)
        ).cast("long").alias("over_budget_multi"),
    )
    b = packed.agg(F.countDistinct("doc_id").cast("long").alias("n_distinct"))
    # 1-row x 1-row broadcast join (bounded by construction)
    return a.join(F.broadcast(b)).select("n_docs", "n_distinct", "over_budget_multi")


def q_pca_invariants(spark, sf_dir) -> DataFrame:
    """Oracle-gated INVARIANT of the PCA eigensolve (VERDICT r3 #4 —
    embedding_pca itself is rows-only: eigenvectors are not
    SQL-expressible, but the spectrum's trace identity is): the sum of
    ALL eigenvalues of the sample covariance equals the total sample
    variance, which SQL computes as sum over dimensions of
    var_samp(x_i). A moment-stage or eigh bug breaks the identity."""
    from eland_spark.operators.decomposition import pca

    emb = _t(spark, sf_dir, "embeddings", "vec_id").to_spark()
    d = len(emb.select("embedding").first()["embedding"])
    _, _, evals = pca(emb, col="embedding", k=d)
    return spark.createDataFrame(
        [(int(d), round(float(sum(evals)), 6))], "dim int, total_var double"
    )


def q_pack_assemble(spark, sf_dir) -> DataFrame:
    """Packed-sequence materialization: the deterministic single-
    partition packing (see pack_documents_seq) joined back to texts
    and concatenated per bin in id order with an EOS separator — the
    final assemble step before tokenization. The oracle replays the
    bin state machine then string_agg's per bin."""
    from eland_spark.operators.packing import assemble_packed_text, pack_documents
    from eland_spark.operators.text import bpe_ish_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wt = (
        docs.select(
            "doc_id",
            bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    packed = pack_documents(wt, "doc_id", "n_tokens", 2048)
    out = assemble_packed_text(docs, packed, "doc_id", "text")
    return out.select(
        F.col("bin_id"), F.col("n_docs"), F.col("text"),
        F.length("text").cast("long").alias("n_chars"),
    )


def q_weighted_sample(spark, sf_dir) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exponential keys, operators/sampling.py): quality-proportional
    document draw — one scan + TakeOrdered. md5-derived uniforms on the
    unique id make the draw engine-portable, so DuckDB reproduces the
    exact sample (full hash-check)."""
    from eland_spark.operators.sampling import weighted_sample_n
    from eland_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wdocs = docs.withColumn("wq", quality_score(F.col("text")) + 0.01)
    return weighted_sample_n(wdocs, "wq", 100, id_col="doc_id").select(
        "doc_id", F.round("wq", 6).alias("wq")
    )


def q_train_val_split(spark, sf_dir) -> DataFrame:
    """Deterministic hash split (operators/sampling.split_by_hash):
    md5-prefix bucketing — engine-agnostic, reproducible, zero
    shuffle; per-split counts."""
    from eland_spark.operators.sampling import split_by_hash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = split_by_hash(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


def q_redact_pii(spark, sf_dir) -> DataFrame:
    """PII-style redaction (operators/text.redact): chained
    regexp_replace, codegen'd, zero shuffle. The text is synthesized
    deterministically from customer rows so both engines exercise real
    matches with identical inputs."""
    from eland_spark.operators.text import redact

    c = _t(spark, sf_dir, "customer", "c_custkey").to_spark()
    txt = F.concat(
        F.lit("user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".7 call 212-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    return c.select("c_custkey", redact(txt).alias("redacted"))


def q_embed_quantize(spark, sf_dir) -> DataFrame:
    """int8 embedding quantization (operators/similarity): per-vector
    scale + code checksum — 4x storage/shuffle reduction for ANN at
    scale, all HOF Column expressions."""
    from eland_spark.operators.similarity import quantize_embedding

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select("vec_id", quantize_embedding(F.col("embedding")).alias("qe"))
    return q.select(
        "vec_id",
        F.round(F.col("qe.scale").cast("double"), 6).alias("scale_r"),
        F.aggregate(
            F.col("qe.q"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint"),
        ).alias("q_sum"),
    )


def q_near_dup_components(spark, sf_dir) -> DataFrame:
    """Near-dup clustering: MinHash LSH candidate pairs -> iterative
    min-label connected components (operators/dedup.py, large-star/
    small-star contraction). The canonical dedup finisher — keep
    node == component for a representative-per-cluster policy.

    Oracle-checked despite the iterative algorithm AND the xxhash64
    fast path: the component labeling (min reachable id) is a pure
    function of the pair set, and the thresholded pair set is
    hash-independent (see q_minhash_near_dup; pinned by
    tests/test_hash_portability.py) — so the recursive-CTE closure
    over the md5-portable pipeline is an exact oracle."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    from eland_spark.operators.dedup import near_dup_components

    out = near_dup_components(docs, "text", "doc_id", threshold=0.6)
    return out.select(F.col("node").alias("doc_id"), F.col("component"))


def q_leakage_safe_split(spark, sf_dir) -> DataFrame:
    """Cluster-keyed train/val/test split (dedup.leakage_safe_split):
    rows hash-split on their near-dup COMPONENT label instead of their
    own id, so near-duplicate documents can never straddle splits — a
    plain id split leaks ~2*f_train*f_val of each near-dup pair across
    the eval boundary, contamination no fixed-benchmark decontaminate
    gate sees. Oracle-checked on the fast xxhash64 path like
    q_near_dup_components: the component label (min reachable id) is a
    pure function of the thresholded pair set, which is
    hash-independent (tests/test_hash_portability.py), and the md5
    split hash is engine-exact; per-split count + id-sum checksum."""
    from eland_spark.operators.dedup import leakage_safe_split

    docs = _t(spark, sf_dir, "documents", "doc_id")
    out = leakage_safe_split(
        docs, "text", "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}, threshold=0.6,
    )
    return (
        out.to_spark()
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


def _leakage_safe_split_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.6
) -> str:
    ctes, matches = _minhash_cand_ctes(num_hashes, bands, k)
    return f"""
        WITH RECURSIVE {ctes}, p AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN sig a ON a.doc_id = c.id_a
            JOIN sig bb ON bb.doc_id = c.id_b
            WHERE ({matches}) / {float(num_hashes)} >= {threshold}
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM p
            UNION
            SELECT id_b AS a, id_a AS b FROM p
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
        ), comp AS (
            SELECT node, min(r) AS component FROM reach GROUP BY node
        ), lab AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS key
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        ), s AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10000 AS h
            FROM lab
        )
        SELECT CASE WHEN h < 8000 THEN 'train'
                    WHEN h < 9000 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM s GROUP BY 1
    """


def q_perplexity(spark, sf_dir) -> DataFrame:
    """Unigram-LM log-perplexity filter (operators/text.unigram_logppl):
    top-100 corpus unigram table broadcast as a map literal, scoring is
    a zero-shuffle ordered fold per doc (OOV floored) — the classic
    perplexity-filter stage of corpus curation. Fully SQL-expressible
    (DuckDB rebuilds the LM map and replays the fold)."""
    from eland_spark.operators.text import unigram_logppl

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = unigram_logppl(docs, F.col("text"), F.col("doc_id"), top_v=100)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.round("logppl", 6).alias("logppl"),
    )


def q_groupby_first_last(spark, sf_dir) -> DataFrame:
    """Per-group first/last row values in index order — ONE
    min_by/max_by hash aggregation on the index key, no window, no
    per-group state (library surface: DataFrameGroupBy.first/last/tail).
    Fully SQL-expressible (DuckDB arg_min/arg_max)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    ikey = F.col("o_orderkey")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.min_by("o_totalprice", ikey), 2).alias("first_price"),
            F.round(F.max_by("o_totalprice", ikey), 2).alias("last_price"),
            F.min_by("o_orderstatus", ikey).alias("first_status"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


def q_elementwise_frame(spark, sf_dir) -> DataFrame:
    """Frame-wide elementwise surface (DataFrame.clip / eval / where —
    pure projections, zero shuffle before the final aggregate; pandas
    parity batch 2). clip bounds every numeric column, eval assigns a
    Catalyst-SQL column, where nulls masked rows frame-wide. Fully
    SQL-expressible."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sub = li[["l_quantity", "l_discount", "l_tax"]]
    shaped = sub.clip(0.01, 30.0).eval("disc_tax = l_discount + l_tax")
    masked = shaped.where(shaped["l_quantity"] > 5.0, other=0.0)
    sdf = masked.to_spark()
    return sdf.agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_q"),
        F.round(F.sum("l_discount"), 4).alias("sum_d"),
        F.round(F.sum("l_tax"), 4).alias("sum_t"),
        F.round(F.sum("disc_tax"), 4).alias("sum_dt"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_concat_frames(spark, sf_dir) -> DataFrame:
    """Module-level ``concat`` (pandas pd.concat analog): row-stack two
    differently-shaped slices with union-by-name null fill — a zero-cost
    plan node (each side keeps its own scan + pushdown). Fully
    SQL-expressible (UNION ALL with explicit null padding)."""
    import eland_spark as es

    docs = _t(spark, sf_dir, "documents", "doc_id")
    a = docs[docs["source"] == "src1"]
    b = docs[docs["source"] == "src2"][["doc_id", "text", "lang"]]
    out = es.concat([a, b])
    sdf = out.to_spark()
    return (
        sdf.groupBy(F.coalesce(F.col("source"), F.lit("none")).alias("src"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).cast("long").alias("chars"),
        )
        .orderBy("src")
    )


def q_concat_frames_axis1(spark, sf_dir) -> DataFrame:
    """Module-level ``concat(axis=1)`` (VERDICT r3 #5): column-wise
    concat = full-outer null-safe index equi-join, aligning two
    differently-filtered order slices on o_orderkey (mismatched
    indexes -> null fill both sides) with a colliding o_custkey column
    taking the positional _1 suffix. One shuffle per side on the index
    key — the same plan a hand-written outer join would get. Fully
    SQL-expressible (FULL OUTER JOIN + COALESCE(key))."""
    import eland_spark as es

    o = _t(spark, sf_dir, "orders", "o_orderkey")
    a = o[o["o_totalprice"] > 300000][["o_custkey", "o_totalprice"]]
    b = o[o["o_orderpriority"] == "1-URGENT"][["o_custkey", "o_orderpriority"]]
    out = es.concat([a, b], axis=1)
    return out.to_spark().select(
        F.col("o_orderkey").alias("okey"),
        "o_custkey",
        "o_totalprice",
        "o_custkey_1",
        "o_orderpriority",
    )


def q_frame_apply(spark, sf_dir) -> DataFrame:
    """``DataFrame.apply(axis=1)`` (VERDICT r3 #7): row Series -> scalar
    through pd.DataFrame.apply inside ONE mapInPandas stage (Arrow
    batches; the lint gate proves no BatchEvalPython row-UDF appears).
    The Python body is plain IEEE double arithmetic, so the SQL oracle
    reproduces it bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sub = li[["l_extendedprice", "l_discount", "l_returnflag"]]

    def fn(row):
        surcharge = 1.06 if row["l_returnflag"] == "A" else 1.0
        return row["l_extendedprice"] * (1.0 - row["l_discount"]) * surcharge

    s = sub.apply(fn, axis=1, dtype="double", name="rev")
    return s._frame._projected().select(
        *LINEITEM_KEY, F.round("rev", 6).alias("rev")
    )


def q_applymap(spark, sf_dir) -> DataFrame:
    """``DataFrame.applymap`` / ``DataFrame.map`` (pandas 2.1 spelling):
    elementwise Python over every column as one shuffle-free projection
    of per-column Arrow pandas_udfs. IEEE-reproducible body -> full SQL
    oracle."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    out = li[["l_quantity", "l_extendedprice"]].applymap(
        lambda v: v * 0.5 + 1.0
    )
    return out.to_spark().select(
        *LINEITEM_KEY,
        F.round("l_quantity", 4).alias("q_half"),
        F.round("l_extendedprice", 4).alias("p_half"),
    )


def q_merge_ordered(spark, sf_dir) -> DataFrame:
    """Module-level ``merge_ordered`` (pandas parity): per-priority
    daily order counts outer-merged with the market-wide daily average
    price on the date key, forward-filled per priority — one broadcast
    of the tiny group list, one null-safe outer equi-join, keyed
    running-window fills (no global sort). Oracle replays the join +
    last_value IGNORE NULLS fills."""
    import eland_spark as es
    from eland_spark.frame import DataFrame as EDF

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    left = (
        o.filter(F.col("o_orderdate") < F.lit("1992-03-01").cast("date"))
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    right = (
        o.filter(F.col("o_orderdate") < F.lit("1992-03-01").cast("date"))
        .groupBy("o_orderdate")
        .agg(F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )
    out = es.merge_ordered(
        EDF(left), EDF(right), on="o_orderdate",
        left_by="o_orderpriority", fill_method="ffill",
    )
    return out.to_spark().select(
        "o_orderpriority", "o_orderdate", "n_orders", "avg_price"
    )


def q_json_normalize(spark, sf_dir) -> DataFrame:
    """Flatten the events JSON ``props`` column into typed columns
    (frame.json_normalize — pd.json_normalize's flat-record case):
    schema-inferred from a bounded driver-side sample, then ONE
    distributed from_json pass, zero shuffle, no Python. Aggregated per
    event_type so the oracle checks the parsed values end-to-end."""
    ev = _t(spark, sf_dir, "events", "event_id")
    out = ev.json_normalize("props")
    return (
        out.to_spark()
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.count("k").cast("long").alias("n_k"),
        )
        .orderBy("event_type")
    )


def q_es_knn(spark, sf_dir) -> DataFrame:
    """ES 8 ``knn`` retrieval through es_query (the reference forwards
    these to the server; here they compile to a pre-filtered exact
    cosine top-k — scan + TakeOrderedAndProject, the DSL filter pushed
    to the scan). Oracle: the same filter + cosine ORDER BY LIMIT in
    DuckDB."""
    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    qvec = [
        float(x)
        for x in emb.to_spark().filter(F.col("vec_id") == 2).collect()[0][
            "embedding"
        ]
    ]
    out = emb.es_query(
        {
            "knn": {
                "field": "embedding",
                "query_vector": qvec,
                "k": 10,
                "filter": {"range": {"vec_id": {"gte": 5}}},
            }
        }
    )
    return out.to_spark().select("vec_id", "label")


def q_gapfill_locf(spark, sf_dir) -> DataFrame:
    """Dense-calendar gap fill (operators/timeseries.time_bucket_gapfill
    — TimescaleDB time_bucket_gapfill / pandas resample().asfreq()
    analog): hourly avg per event_type with EVERY bucket between each
    series' first and last observation emitted, empty buckets filled
    by LOCF. One raw-data aggregation, bucket-cardinality everything
    after; the LOCF window is keyed by the series and runs the
    unbounded-PRECEDING frame only. Oracle: generate_series calendar +
    last_value IGNORE NULLS."""
    from eland_spark.operators.timeseries import time_bucket_gapfill

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = time_bucket_gapfill(
        ev, "ts", "value", 3600, by=["event_type"], agg="avg", fill="locf"
    )
    return out.select(
        "event_type", "bucket", F.round("value", 6).alias("value")
    )


def q_gapfill_interp(spark, sf_dir) -> DataFrame:
    """Linear-interpolation gap fill (TimescaleDB ``interpolate()``
    analog): interior empty buckets take the straight line between the
    surrounding observations. The backward neighbor scan is a DESC
    running window — no unbounded-FOLLOWING frame (O(n^2) per
    partition in Spark), pinned in tests/test_timeseries.py."""
    from eland_spark.operators.timeseries import time_bucket_gapfill

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = time_bucket_gapfill(
        ev, "ts", "value", 3600, by=["event_type"], agg="avg", fill="interp"
    )
    return out.select(
        "event_type", "bucket", F.round("value", 6).alias("value")
    )


def q_str_extractall(spark, sf_dir) -> DataFrame:
    """``str.extractall`` (pandas parity): every non-overlapping regex
    match becomes a row keyed by (doc_id, match) — one zero-shuffle
    posexplode over regexp_extract_all arrays, no Python. The DuckDB
    oracle zips unnest(regexp_extract_all) with its ordinal."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    sub = docs[docs["doc_id"] < 200]
    out = sub["text"].str.extractall(r"\b(t[a-z]+)\b")
    return out.to_spark().select("doc_id", "match", F.col("0").alias("w"))


def q_series_stats(spark, sf_dir) -> DataFrame:
    """Series statistics surface (corr / cov / sem / autocorr — pandas
    parity batch 2). corr/cov/sem are single scalar aggregates; autocorr
    correlates against the windowless global-shift lag (no
    single-partition window). Fully SQL-expressible (corr/covar_samp +
    a LAG window twin)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    tp = o["o_totalprice"]
    vals = (
        round(tp.corr(o["o_custkey"]), 6),
        round(tp.cov(o["o_custkey"]), 6),
        round(tp.sem(), 6),
        round(tp.autocorr(2), 6),
    )
    return spark.createDataFrame(
        [vals], "corr_tp_ck double, cov_tp_ck double, sem_tp double, autocorr_tp double"
    )


def q_ppl_buckets(spark, sf_dir) -> DataFrame:
    """CCNet-style quality tiers (operators/text.perplexity_buckets):
    unigram-LM perplexity scored against a broadcast map-literal LM
    (zero-shuffle fold), then ntile(3) per language over the ROUNDED
    score — head/middle/tail buckets whose boundaries are bit-stable
    across engines. The only shuffle is the per-language tile exchange.
    Fully SQL-expressible (DuckDB replays the LM fold + NTILE)."""
    from eland_spark.operators.text import perplexity_buckets

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = perplexity_buckets(
        docs, F.col("text"), F.col("doc_id"), F.col("lang"), n_buckets=3, top_v=100
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "lang",
        "n_tokens",
        F.round("logppl", 6).alias("logppl"),
        F.col("bucket").cast("long").alias("bucket"),
        "tier",
    )


def q_cap_per_domain(spark, sf_dir) -> DataFrame:
    """Per-source document cap (operators/sampling.cap_per_key): at most
    10 docs per source in doc_id order — the "no single domain dominates
    the corpus" curation rule. One hash shuffle on the key; row_number +
    filter, never a per-key array; AQE splits skewed keys. Fully
    SQL-expressible (ROW_NUMBER twin)."""
    from eland_spark.operators.sampling import cap_per_key

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = cap_per_key(docs, "source", 10, "doc_id")
    return out.select("doc_id", "source")


def q_token_budget_sample(spark, sf_dir) -> DataFrame:
    """Budgeted mixture sampling (operators/sampling.sample_to_token_
    budget): per-source random-but-deterministic subset whose cumulative
    n_chars stays <= 3000 — the "N tokens per source" step of assembling
    a training mixture. md5-keyed order (engine-portable), one hash
    shuffle + streaming prefix sum. Fully SQL-expressible (SUM OVER twin
    on the identical md5 key)."""
    from eland_spark.operators.sampling import sample_to_token_budget

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = sample_to_token_budget(
        docs, "n_chars", 3000, id_col="doc_id", group_col="source", seed=42
    )
    return out.select("doc_id", "source", "n_chars")


def q_boilerplate(spark, sf_dir) -> DataFrame:
    """Boilerplate-segment scrub (operators/text.remove_boilerplate):
    segments appearing in >= 395 distinct documents are dropped, order
    preserved — explode once, count boilerplate (map-combined),
    broadcast-mark, one id shuffle to rebuild. The synthetic corpus has
    no sentence delimiters, so the query scrubs at token granularity
    (the threshold splits its ~380-415 doc-frequency band); real web
    corpora use delim='\\n' with a low min_docs unchanged. Fully
    SQL-expressible (DuckDB replays the same count/mark/rebuild)."""
    from eland_spark.operators.text import remove_boilerplate

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = remove_boilerplate(docs, F.col("text"), F.col("doc_id"), " ", 395)
    return out.select(F.col("id").alias("doc_id"), "clean_text", "n_removed")


def q_snapshot_diff(spark, sf_dir) -> DataFrame:
    """Incremental corpus diff (operators/dedup.snapshot_diff): two
    deterministic snapshot views of the documents table (old drops
    doc_id%10==0; new drops doc_id%7==0 and rewrites text for
    doc_id%5==0) diffed by key in ONE full outer join — the
    added/removed/changed ledger that lets downstream stages re-run on
    the delta only."""
    from eland_spark.operators.dedup import snapshot_diff

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    out = snapshot_diff(old, new, "doc_id", compare=["text"])
    return out.orderBy("doc_id")


_WP_BASE = [c for c in "abcdefghijklmnoprstuvwy0123456789"]  # no q/x/z
_WP_VOCAB = (
    ["the", "or", "key", "scan", "sort", "[UNK]"]
    + _WP_BASE
    + ["##er", "##le"]
    + ["##" + c for c in _WP_BASE]
)


def q_wordpiece(spark, sf_dir) -> DataFrame:
    """REAL WordPiece tokenization (operators/text.wordpiece_tokenize):
    greedy longest-match against a fixed vocabulary, continuation ##
    pieces, whole-word [UNK] on failure — HF WordpieceTokenizer
    semantics, Arrow-batched zero-shuffle map. The vocabulary covers
    every letter except q/x/z, so most words segment and words with
    those letters exercise the [UNK] path. DuckDB replays the greedy
    scan as a recursive CTE over (word, position) states."""
    from eland_spark.operators.text import wordpiece_tokenize

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = wordpiece_tokenize(docs, F.col("text"), F.col("doc_id"), _WP_VOCAB)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.concat_ws(" ", "tokens").alias("token_str"),
    ).orderBy("doc_id")


def _wordpiece_oracle_sql() -> str:
    """DuckDB replay of greedy WordPiece: a recursive CTE advances a
    (word, position) cursor, a correlated scalar subquery picks the
    longest matching vocab piece at each position, and failure
    collapses the word to [UNK] — exactly the operator's loop."""
    vals = []
    for v in _WP_VOCAB:
        if v == "[UNK]":
            continue
        cont = v.startswith("##")
        raw = v[2:] if cont else v
        vals.append(f"('{raw}', {str(cont).lower()})")
    vocab_values = ", ".join(vals)
    return f"""
        WITH RECURSIVE vocab(raw, cont) AS (
            SELECT * FROM (VALUES {vocab_values}) t(raw, cont)
        ), toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS t
            FROM documents
        ), words AS (
            SELECT doc_id, CAST(u.i AS INT) AS wi,
                   t[CAST(u.i AS INT)] AS w
            FROM toks, UNNEST(range(1, COALESCE(len(t), 0) + 1)) AS u(i)
        ), step AS (
            SELECT doc_id, wi, w, 0 AS pos, '' AS toks, false AS failed
            FROM words
            UNION ALL
            SELECT doc_id, wi, w,
                   CASE WHEN m IS NULL THEN len(w) ELSE pos + len(m) END,
                   CASE WHEN m IS NULL THEN toks ELSE
                        CASE WHEN toks = '' THEN '' ELSE toks || ' ' END ||
                        CASE WHEN pos = 0 THEN m ELSE '##' || m END END,
                   m IS NULL
            FROM (
                SELECT s.*,
                       (SELECT v.raw FROM vocab v
                        WHERE v.cont = (s.pos > 0)
                          AND substr(s.w, s.pos + 1, len(v.raw)) = v.raw
                        ORDER BY len(v.raw) DESC, v.raw
                        LIMIT 1) AS m
                FROM step s
                WHERE s.pos < len(s.w) AND NOT s.failed
            )
        ), fin AS (
            SELECT doc_id, wi,
                   CASE WHEN failed THEN '[UNK]' ELSE toks END AS wt
            FROM step
            WHERE failed OR pos >= len(w)
        ), per_doc AS (
            SELECT doc_id, string_agg(wt, ' ' ORDER BY wi) AS token_str
            FROM fin GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(CASE WHEN COALESCE(p.token_str, '') = '' THEN 0
                    ELSE len(string_split(p.token_str, ' ')) END AS BIGINT)
                   AS n_tokens,
               COALESCE(p.token_str, '') AS token_str
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        ORDER BY d.doc_id
    """


def q_dup_spans(spark, sf_dir) -> DataFrame:
    """Exact substring-duplication profile (operators/dedup.
    duplicate_span_stats, Lee et al. 2021 shape): per-doc fraction of
    token positions covered by an 8-token window occurring in >= 2
    distinct documents. One window aggregation + AQE-broadcast mark
    join + one per-doc coverage aggregation; portable mode keys
    windows by the raw joined string so DuckDB replays the pipeline
    exactly."""
    from eland_spark.operators.dedup import duplicate_span_stats

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = duplicate_span_stats(
        docs, F.col("text"), F.col("doc_id"), k=8, min_docs=2, portable=True
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "dup_windows",
        "covered_tokens",
        "dup_fraction",
    )


def q_decontaminate(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination (operators/dedup.contamination_flags):
    flag training documents sharing any word 5-shingle with the 'src2'
    eval slice — broadcast semi-join on raw shingle strings, corpus
    scanned once, never shuffled by shingle; string shingles keep the
    whole gate reproducible in SQL (full hash-check)."""
    from eland_spark.operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents", "doc_id")
    bench = docs.to_spark().filter(F.col("source") == "src2").select("text")
    return contamination_flags(docs, bench, "text", "doc_id", k=5)


def q_contamination_overlap(spark, sf_dir) -> DataFrame:
    """Benchmark-overlap FRACTION per document (the GPT-3/PaLM n-gram
    decontamination metric — drop docs above a threshold, not any-hit):
    distinct word 5-shingles per doc, benchmark ('src2') shingle set
    broadcast, ONE doc-keyed aggregation for both counts
    (operators/dedup.contamination_overlap)."""
    from eland_spark.operators.dedup import contamination_overlap

    docs = _t(spark, sf_dir, "documents", "doc_id")
    bench = docs.to_spark().filter(F.col("source") == "src2").select("text")
    return contamination_overlap(docs, bench, "text", "doc_id", k=5)


def _contamination_overlap_oracle_sql(k: int = 5) -> str:
    """DuckDB oracle for q_contamination_overlap: identical shingle
    pipeline, per-doc DISTINCT shingles, broadcast-set hit flags,
    double (never integer) division for the fraction."""
    return f"""
        WITH ce AS (
            SELECT DISTINCT doc_id, unnest(ss) AS s
            FROM {_shingle_cte("documents", k)}
        ), be AS (
            SELECT DISTINCT unnest(ss) AS s
            FROM {_shingle_cte("(SELECT doc_id, text FROM documents WHERE source = 'src2')", k)}
        ), per AS (
            SELECT ce.doc_id,
                   count(*) AS n_shingles,
                   sum(CASE WHEN be.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
            FROM ce LEFT JOIN be ON be.s = ce.s
            GROUP BY ce.doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_shingles, 0) AS n_shingles,
               -- sum(CASE) is HUGEINT in DuckDB -> float64 in pandas;
               -- cast keeps the driver's dtype-sensitive hash green
               CAST(COALESCE(p.n_hits, 0) AS BIGINT) AS n_contaminated,
               round(COALESCE(CAST(p.n_hits AS DOUBLE) / p.n_shingles, 0.0), 6)
                   AS overlap_frac
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    """


def q_hybrid_search(spark, sf_dir) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    (Cormack et al. 2009 — the ES 8.8+ ``rank: {rrf}`` section): BM25
    top-20 on documents ('spark window agg') + exact-cosine top-20 on
    embeddings (query = vec_id 0), doc_id and vec_id sharing the id
    space; 1/(60+rank) summed, top-10. Both legs carry their own
    plan contracts; fusion inputs are bounded top-k lists ranked with
    the windowless range-sort operator (operators/fusion.rrf_fuse)."""
    from eland_spark.operators.fusion import rrf_fuse
    from eland_spark.operators.similarity import cosine_topk
    from eland_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    bm = bm25_topk(docs, "text", "doc_id", "spark window agg", k=20)

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    qrow = emb.to_spark().filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrow[0]["embedding"]]
    ann = (
        cosine_topk(emb, qvec, k=20)[["vec_id", "__cos__"]]
        .to_spark()
        .select(F.col("vec_id").alias("id"), F.round("__cos__", 6).alias("cos_sim"))
    )
    return rrf_fuse([bm, ann], k=10, rank_k=60)


def _hybrid_search_oracle_sql() -> str:
    """DuckDB oracle for q_hybrid_search: the bm25_topk CTE at k=20,
    the ann_bruteforce CTE at k=20 (cut on the unrounded cosine,
    ranked on the rounded — mirroring the Spark legs), row_number
    ranks, 1/(60+rank) fusion."""
    return r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+'),
                               t -> t <> '') AS tk
            FROM documents
        ), per AS (
            SELECT doc_id, len(tk) AS dl,
                   len(list_filter(tk, t -> t = 'spark'))  AS tf0,
                   len(list_filter(tk, t -> t = 'window')) AS tf1,
                   len(list_filter(tk, t -> t = 'agg'))    AS tf2
            FROM toks
        ), stats AS (
            SELECT count(*) AS n,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM per
        ), bscored AS (
            SELECT p.doc_id AS id,
                   round(
                     ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5)) * p.tf0 * 2.2
                       / (p.tf0 + 1.2 * (0.25 + (0.75 / s.avgdl) * p.dl))
                   + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5)) * p.tf1 * 2.2
                       / (p.tf1 + 1.2 * (0.25 + (0.75 / s.avgdl) * p.dl))
                   + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5)) * p.tf2 * 2.2
                       / (p.tf2 + 1.2 * (0.25 + (0.75 / s.avgdl) * p.dl))
                   , 6) AS bm25
            FROM per p, stats s
        ), bm AS (
            SELECT id, bm25 FROM bscored WHERE bm25 > 0
            ORDER BY bm25 DESC, id LIMIT 20
        ), qv AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        ), ann AS (
            SELECT vec_id AS id,
                   round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cos_sim
            FROM embeddings, qv
            ORDER BY list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))) DESC,
                     vec_id ASC
            LIMIT 20
        ), br AS (
            SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS r FROM bm
        ), ar AS (
            SELECT id, row_number() OVER (ORDER BY cos_sim DESC, id) AS r FROM ann
        ), u AS (
            SELECT id, 1.0 / (60 + r) AS c FROM br
            UNION ALL
            SELECT id, 1.0 / (60 + r) AS c FROM ar
        )
        SELECT id, round(sum(c), 6) AS rrf, count(*) AS n_lists
        FROM u GROUP BY id ORDER BY rrf DESC, id LIMIT 10
    """


def q_series_shift(spark, sf_dir) -> DataFrame:
    """pandas Series.shift over the global index order — windowless:
    rank positions (range-sort + offsets) then a self-equi-join on
    position-1 (operators/ranking.with_global_shift); no
    empty-PARTITION-BY window anywhere."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].shift(1).to_spark()
    return out.select("o_orderkey", F.round("shift", 2).alias("shift"))


def q_series_diff(spark, sf_dir) -> DataFrame:
    """pandas Series.diff over the global index order (same windowless
    plan as shift)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].diff(1).to_spark()
    return out.select("o_orderkey", F.round("diff", 2).alias("diff"))


def q_series_cumsum(spark, sf_dir) -> DataFrame:
    """pandas Series.cumsum over the global index order — windowless at
    scale: position buckets + one balanced hash exchange + driver
    prefix-sum of bucket totals (with_global_cumagg). Integer column so
    the running sum is exact on both engines."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_custkey"].cumsum().to_spark()
    return out.select("o_orderkey", F.col("cumsum").cast("bigint").alias("cumsum"))


def q_series_cumprod(spark, sf_dir) -> DataFrame:
    """pandas Series.cumprod — the cumsum bucket plan with a TRUE
    running product (F.product within buckets + driver
    prefix-multiply). Values in {-1, 0, 1} so the run is exact in any
    engine and exercises the sign/zero paths; +0.0 squashes the IEEE
    -0.0 both engines produce after a negative-times-zero run."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    s = o["o_orderkey"] % 3 - 1
    out = s.cumprod().to_spark()
    return out.select(
        "o_orderkey", (F.col("cumprod") + F.lit(0.0)).alias("cumprod")
    )


def q_stack_long(spark, sf_dir) -> DataFrame:
    """pandas DataFrame.stack as a lazy long frame: numeric columns
    melt into (index, level_1, value) rows via Spark's unpivot — a
    Generate-style per-row expansion, ZERO shuffle (frame.stack ->
    melt)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_totalprice", "o_custkey"]].stack().to_spark()
    return out.select(
        "o_orderkey", "level_1", F.round("value", 2).alias("value")
    )


def q_interpolate_gaps(spark, sf_dir) -> DataFrame:
    """pandas Series.interpolate(method='linear') over the global index
    order — windowless at scale: the ffill/bfill bucket plan
    (operators/ranking.with_global_interpolate — one balanced hash
    exchange on the bucket id, per-bucket boundary (position, value)
    structs prefix/suffix-carried on the driver). Deterministic holes
    where o_orderkey % 7 <= 1; interior gaps take the straight line on
    ROW position, trailing nulls carry the last valid value, leading
    nulls stay null (pandas limit_direction='forward')."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    gap = o["o_totalprice"].where(o["o_orderkey"] % 7 > 1)
    out = gap.interpolate().to_spark()
    return out.select(
        "o_orderkey", F.round("interpolate", 4).alias("interp")
    )


def q_events_time_window(spark, sf_dir) -> DataFrame:
    """pandas truncate + between_time on a timestamp index: index-range
    filter then time-of-day filter (both pure Column predicates, zero
    shuffle) -> per-type counts. The between_time window crosses
    midnight to exercise the wrap path."""
    ev = _t(spark, sf_dir, "events", "ts")
    win = ev.truncate(
        before="2024-01-05 00:00:00", after="2024-01-25 23:59:59"
    ).between_time("22:00", "03:30")
    return (
        win.to_spark()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("sum_user"),
        )
    )


def q_groupby_cumsum(spark, sf_dir) -> DataFrame:
    """pandas groupby().cumsum(): per-group running sum in index order
    — one keyed window (hash shuffle on the keys + local sort),
    sequential within each group. Integer column keeps the run exact on
    both engines."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o.groupby("o_orderpriority").cumsum().to_spark()
    return out.select(
        "o_orderkey", F.col("o_custkey").cast("bigint").alias("cum_custkey")
    )


def q_groupby_shift(spark, sf_dir) -> DataFrame:
    """pandas groupby().shift(): previous row's value within the group
    (index order) — lag over one keyed window; values pass through
    untouched so doubles compare exactly."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o.groupby("o_orderpriority").shift(1).to_spark()
    return out.select(
        "o_orderkey", F.col("o_totalprice").alias("prev_totalprice")
    )


def q_groupby_rank(spark, sf_dir) -> DataFrame:
    """pandas groupby().rank(method='average'): within-group value
    ranks — ONE hash shuffle on the keys; the per-(key, value) tie
    windows are satisfied by the same exchange (subset clustering)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o.groupby("o_orderpriority").rank(method="average").to_spark()
    return out.select(
        "o_orderkey", F.col("o_totalprice").alias("rank_totalprice")
    )


def q_groupby_rolling(spark, sf_dir) -> DataFrame:
    """pandas groupby().rolling(4).sum(): per-group bounded-frame
    window in index order — one keyed hash shuffle, group locality
    makes it trivially scalable. Integer column keeps the frame sums
    exact; min_periods=window nulls each group's head."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o.groupby("o_orderpriority").rolling(4).sum().to_spark()
    return out.select(
        "o_orderkey", F.col("o_custkey").cast("bigint").alias("roll_custkey")
    )


def q_expanding_mean(spark, sf_dir) -> DataFrame:
    """pandas Series.expanding().mean() over the global index order —
    the cumulative bucket plan (sum and observation count in one pass);
    integer running sum / count keeps the division exact on both
    engines."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_custkey"].expanding(1).mean().to_spark()
    return out.select("o_orderkey", F.col("expanding_mean"))


def q_rolling_global_sum(spark, sf_dir) -> DataFrame:
    """pandas Series.rolling(5).sum() over the global index order —
    windowless at scale: position buckets sized >= the window with the
    last window-1 rows replicated into the next bucket, one balanced
    hash exchange (with_global_rolling). Integer column keeps the frame
    sums exact on both engines; min_periods=window nulls the head."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_custkey"].rolling(5).sum().to_spark()
    return out.select(
        "o_orderkey", F.col("rolling_sum").cast("bigint").alias("rolling_sum")
    )


def q_rolling_global_min(spark, sf_dir) -> DataFrame:
    """pandas Series.rolling(7).min() — same bucket-overlap plan; min
    is order-insensitive so doubles compare exactly."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].rolling(7).min().to_spark()
    return out.select("o_orderkey", F.col("rolling_min"))


def q_groupby_cumcount(spark, sf_dir) -> DataFrame:
    """pandas groupby().cumcount(): 0-based within-group position in
    index order — row_number over one keyed window."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    return o.groupby("o_orderpriority").cumcount().to_spark()


def q_series_cummax(spark, sf_dir) -> DataFrame:
    """pandas Series.cummax over the global index order — the bucket
    plan of cumsum with a prefix-max combine; max is order-insensitive
    so the doubles compare exactly (no rounding needed)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].cummax().to_spark()
    return out.select("o_orderkey", "cummax")


def q_curation_pipeline(spark, sf_dir) -> DataFrame:
    """End-to-end curation chain — the integrated shape a training-data
    pipeline actually runs: exact dedup (keep-first) -> benchmark
    decontamination vs the src2 eval slice -> quality-score gate ->
    per-source survivor stats. Every stage is an existing operator; the
    composed plan stays one DAG (no materialization between stages) and
    the DuckDB oracle replays the whole chain stage-for-stage."""
    from eland_spark.operators.dedup import contamination_flags, drop_duplicates
    from eland_spark.operators.text import quality_score, token_count

    docs = _t(spark, sf_dir, "documents", "doc_id")
    corpus = docs[docs["source"] != "src2"]
    ded = drop_duplicates(corpus, subset=["text"])
    bench = docs.to_spark().filter(F.col("source") == "src2").select("text")
    flags = contamination_flags(ded, bench, "text", "doc_id", k=5)
    clean = ded.to_spark().join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    scored = clean.withColumn("q", quality_score(F.col("text"))).filter(
        F.col("q") >= 0.55
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.round(F.avg("q"), 6).alias("avg_q"),
    )


def q_near_dup_components_md5(spark, sf_dir) -> DataFrame:
    """Portable-hash twin of near_dup_components: md5 shingle hashing
    makes the WHOLE clustering pipeline — MinHash pairs AND the
    connected-components labeling — reproducible in DuckDB (pairs via
    the shared portable CTEs, closure via a recursive CTE), so the
    dedup finisher is hash-checked end-to-end, not just row-counted
    (xxhash64 stays the fast default in near_dup_components)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    from eland_spark.operators.dedup import near_dup_components

    out = near_dup_components(docs, "text", "doc_id", threshold=0.6, portable=True)
    return out.select(F.col("node").alias("doc_id"), F.col("component"))


def q_duplicated_flags(spark, sf_dir) -> DataFrame:
    """Per-row duplicate flags (pandas duplicated; flag twin of the
    dedup operator family): keep-first marks all but the lowest-index
    row per o_custkey — one hash shuffle (row_number window)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    return o.duplicated(subset=["o_custkey"], keep="first").to_spark()


def q_cut_buckets(spark, sf_dir) -> DataFrame:
    """Equal-width binning (Series.cut, pandas-code semantics: right-
    closed intervals, null out of range) + per-bucket agg — the
    histogram relative, all one codegen'd CASE projection then one
    hash agg."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    b = li["l_extendedprice"].cut([0, 20000, 40000, 60000, 120000])
    f = li.assign(bucket=b)
    return (
        f[["bucket", "l_extendedprice"]]
        .to_spark()
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )


def q_groupby_series_key(spark, sf_dir) -> DataFrame:
    """Grouping by a derived Series key (pandas
    df.groupby(df.col.dt.year) idiom): the key materializes as a
    derived column, still one hash aggregation."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    yr = o["o_orderdate"].dt.year.rename("order_year")
    g = o.groupby(yr)
    return g._lazy(
        [
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice")), 2).alias("revenue"),
        ]
    ).to_spark()


def q_groupby_head(spark, sf_dir) -> DataFrame:
    """Per-group first-n rows (pandas groupby().head): row_number
    window over the keys, one shuffle."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    h = o.groupby("o_orderstatus").head(5)
    return h[["o_orderkey", "o_orderstatus"]].to_spark()


def q_groupby_transform(spark, sf_dir) -> DataFrame:
    """pandas groupby().transform — group-broadcast sum via
    Window.partitionBy (one hash shuffle, no join-back; net-new over
    the reference's window-free surface, SURVEY §2.7)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sub = li[
        [
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            "l_returnflag",
            "l_quantity",
        ]
    ]
    t = sub.groupby("l_returnflag").transform("sum")
    return t.to_spark().select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.round("l_quantity", 2).alias("qty_sum"),
    )


def q_groupby_multi(spark, sf_dir) -> DataFrame:
    """Two-key groupby, mixed aggs (composite-agg analog)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    return (
        li.to_spark()
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.countDistinct("l_suppkey").alias("nunique_supp"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
            F.min("l_shipdate").alias("min_ship"),
        )
    )


def q_groupby_quantile(spark, sf_dir) -> DataFrame:
    """Per-group exact quantiles (reference appends a quantile index
    level, eland/operations.py:955-994 — here wide columns)."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    ps = F.percentile(
        F.col("o_totalprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        orders.to_spark()
        .groupBy("o_orderstatus")
        .agg(ps.alias("ps"))
        .select(
            "o_orderstatus",
            F.round(F.element_at("ps", 1), 6).alias("p25"),
            F.round(F.element_at("ps", 2), 6).alias("p50"),
            F.round(F.element_at("ps", 3), 6).alias("p75"),
        )
    )


def q_groupby_datetime(spark, sf_dir) -> DataFrame:
    """date_histogram analog: calendar-interval bucketing
    (reference eland/query.py:195-211 -> date_trunc)."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    return (
        orders.to_spark()
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_groupby_timestamp_mean(spark, sf_dir) -> DataFrame:
    """Timestamp mean via epoch seconds (reference epoch-millis unpack,
    eland/operations.py:716-736) — timezone-safe formulation."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    secs = F.timestamp_diff("SECOND", epoch, F.col("l_shipdate"))
    return (
        li.to_spark()
        .groupBy("l_returnflag")
        .agg(
            F.timestamp_add(
                "SECOND", F.floor(F.avg(secs)).cast("long"), epoch
            ).alias("mean_shipdate")
        )
    )


def q_rollup(spark, sf_dir) -> DataFrame:
    """Grouping-sets rollup (absent in reference, native in Spark —
    SURVEY §2.6 'free in Spark')."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    return (
        li.to_spark()
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def q_cube(spark, sf_dir) -> DataFrame:
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    return (
        orders.to_spark()
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# §2.2/2.3 — projections, filters, arithmetic
# ---------------------------------------------------------------------------

def q_filter_chain(spark, sf_dir) -> DataFrame:
    """Predicate surface: range + eq + isin + like + boolean combinators
    (reference filter DSL, eland/filter.py)."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    f = orders[
        (orders.o_totalprice > 100000.0)
        & (orders.o_orderstatus == "F")
        & orders.o_orderpriority.isin(["1-URGENT", "2-HIGH"])
        & ~orders.o_orderpriority.like("%LOW%")
    ]
    return f[["o_orderkey", "o_totalprice", "o_orderpriority"]].to_spark()


def q_filter_col_vs_col(spark, sf_dir) -> DataFrame:
    """Column-vs-column comparison (reference compiles to a Painless
    script filter, eland/filter.py:166-179 — native Column here)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    f = li[li.l_discount > li.l_tax]
    return (
        f[["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]].to_spark()
    )


def q_filter_rlike_startswith(spark, sf_dir) -> DataFrame:
    part = _t(spark, sf_dir, "part", "p_partkey")
    f = part[part.p_name.rlike("^p.*[03]$") | part.p_brand.startswith("Brand#1")]
    return f[["p_partkey", "p_name", "p_brand"]].to_spark()


def q_es_query_dsl(spark, sf_dir) -> DataFrame:
    """ES query-DSL escape hatch (reference eland/dataframe.py:736-791):
    a nested bool dict compiled to one Catalyst predicate
    (functions/es_dsl.py) — term/terms/range/prefix/wildcard/must_not
    all pushdown-eligible."""
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    dsl = {
        "bool": {
            "must": [
                {"range": {"c_acctbal": {"gt": 1000, "lte": 8000}}},
                {"terms": {"c_mktsegment": ["BUILDING", "MACHINERY", "AUTOMOBILE"]}},
            ],
            "must_not": [{"prefix": {"c_name": "Customer#0000001"}}],
            "should": [
                {"wildcard": {"c_name": "*1?"}},
                {"term": {"c_mktsegment": "MACHINERY"}},
            ],
            "minimum_should_match": 1,
        }
    }
    f = cust.es_query(dsl)
    return f[["c_custkey", "c_mktsegment", "c_acctbal"]].to_spark()


def q_es_match_fuzzy(spark, sf_dir) -> DataFrame:
    """es_match with ES fuzziness semantics (reference
    eland/query_compiler.py:419-488): per-word Levenshtein <= 1 via
    array exists HOF — JVM-side, no UDF. 'spak' appears nowhere in the
    corpus; distance-1 matches hit 'spark'."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    hit = docs[docs.es_match("spak", columns=["text"], fuzziness=1)]
    miss = docs[docs.es_match("spark", columns=["text"], must_not_match=True)]
    return (
        hit[["doc_id"]].to_spark().withColumn("kind", F.lit("fuzzy_hit"))
        .unionAll(miss[["doc_id"]].to_spark().withColumn("kind", F.lit("must_not")))
    )


def q_query_string(spark, sf_dir) -> DataFrame:
    """Lucene query_string / simple_query_string subset compiled to one
    Catalyst predicate (functions/es_dsl.py): AND/OR/NOT + phrases +
    word wildcards, boolean semantics (scoring out of relational
    scope, reference es_query escape hatch
    eland/query_compiler.py:490-491)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    qs = docs.es_query(
        {"query_string": {"query": "(spark OR flink) AND NOT batch", "default_field": "text"}}
    )
    sqs = docs.es_query(
        {
            "simple_query_string": {
                "query": 'str* + "stream processing"',
                "fields": ["text"],
            }
        }
    )
    return (
        qs[["doc_id"]].to_spark().withColumn("kind", F.lit("query_string"))
        .unionAll(sqs[["doc_id"]].to_spark().withColumn("kind", F.lit("simple_qs")))
    )


def q_query_expr(spark, sf_dir) -> DataFrame:
    """SQL-string escape hatch (es_query analog,
    eland/dataframe.py:736-791)."""
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    f = cust.query("c_acctbal > 5000 AND c_mktsegment IN ('BUILDING', 'MACHINERY')")
    return f[["c_custkey", "c_acctbal", "c_mktsegment"]].to_spark()


def q_arithmetic(spark, sf_dir) -> DataFrame:
    """Row arithmetic surface: + - * / // % ** (reference Painless
    expression tree, eland/arithmetics.py:132-165 — Column exprs here),
    aggregated for stability."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    li["revenue"] = li.l_extendedprice * (1 - li.l_discount)
    li["charge"] = (li.l_extendedprice * (1 - li.l_discount)) * (1 + li.l_tax)
    li["qty_mod"] = li.l_quantity % 7
    li["qty_floordiv"] = li.l_quantity // 7
    li["qty_sq"] = li.l_quantity ** 2
    li["ratio"] = li.l_extendedprice / (li.l_quantity + 1)
    sdf = li.to_spark()
    return sdf.agg(
        F.round(F.sum("revenue"), 2).alias("sum_revenue"),
        F.round(F.sum("charge"), 2).alias("sum_charge"),
        F.round(F.sum("qty_mod"), 2).alias("sum_qty_mod"),
        F.round(F.sum("qty_floordiv"), 2).alias("sum_qty_floordiv"),
        F.round(F.sum("qty_sq"), 2).alias("sum_qty_sq"),
        F.round(F.sum("ratio"), 2).alias("sum_ratio"),
    )


def q_string_concat(spark, sf_dir) -> DataFrame:
    """String + string concat through the Series facade
    (reference eland/arithmetics.py:175-204)."""
    nation = _t(spark, sf_dir, "nation", "n_nationkey")
    nation["tag"] = nation.n_name + "_" + nation.n_name
    return nation[["n_nationkey", "tag"]].to_spark()


def q_scalar_functions(spark, sf_dir) -> DataFrame:
    """Scalar function surface: string + date functions (SURVEY §2.10 —
    the reference has no scalar library; F.* covers it natively)."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    sdf = orders.to_spark()
    return sdf.select(
        F.col("o_orderkey"),
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.lower(F.col("o_orderpriority")).alias("prio_lower"),
        F.length(F.col("o_orderpriority")).cast("long").alias("prio_len"),
        F.substring(F.col("o_orderpriority"), 1, 3).alias("prio_pre"),
        F.year(F.col("o_orderdate")).cast("long").alias("order_year"),
        F.month(F.col("o_orderdate")).cast("long").alias("order_month"),
        F.dayofmonth(F.col("o_orderdate")).cast("long").alias("order_day"),
        F.round(F.col("o_totalprice") / 1000.0, 2).alias("price_k"),
    ).filter(F.col("o_orderkey") < 1000)


def q_es_date_parse(spark, sf_dir) -> DataFrame:
    """ES named date-format codec (reference eland/common.py:106-304):
    format o_orderdate into three ES formats, parse each back with
    es_date_parse, plus a ||-chain that must fall through to basic_date.
    All parsing is JVM-side try_to_timestamp / epoch arithmetic."""
    from eland_spark.functions.dates import es_date_parse

    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    sdf = orders.to_spark()
    d = F.col("o_orderdate")
    basic = F.date_format(d, "yyyyMMdd")
    ordinal = F.date_format(d, "yyyy-DDD")
    millis = F.unix_millis(d.cast("timestamp")).cast("string")
    parsed = sdf.select(
        es_date_parse(basic, "basic_date").alias("t_basic"),
        es_date_parse(ordinal, "ordinal_date").alias("t_ordinal"),
        es_date_parse(millis, "epoch_millis").alias("t_epoch"),
        # chain: ISO leg can't parse "yyyyMMdd", falls through to basic_date
        es_date_parse(basic, "strict_date_optional_time||basic_date").alias("t_chain"),
    )
    return parsed.groupBy(F.year("t_basic").cast("long").alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("t_ordinal").alias("min_ordinal"),
        F.max("t_epoch").alias("max_epoch"),
        F.count(F.when(F.col("t_chain") == F.col("t_basic"), 1)).alias("n_chain_ok"),
    )


def q_json_extract(spark, sf_dir) -> DataFrame:
    """JSON field extraction from the events props column."""
    ev = _t(spark, sf_dir, "events", "event_id")
    sdf = ev.to_spark()
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        sdf.select(F.col("event_id"), k.alias("k"))
        .filter(F.col("k") > 90)
    )


def q_case_when(spark, sf_dir) -> DataFrame:
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    sdf = cust.to_spark()
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return sdf.groupBy(bucket.alias("balance_bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
    )


# ---------------------------------------------------------------------------
# §2.8 — sorts / limits / sampling
# ---------------------------------------------------------------------------

def q_head(spark, sf_dir) -> DataFrame:
    """head(): index-ordered limit (reference eland/tasks.py:78-122)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    return li.head(20)[LINEITEM_KEY + ["l_quantity"]].to_spark()


def q_tail(spark, sf_dir) -> DataFrame:
    """tail(): reverse-sort + limit + re-sort (reference
    eland/tasks.py:125-185)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    return li.tail(20)[LINEITEM_KEY + ["l_quantity"]].to_spark()


def q_sort_topk(spark, sf_dir) -> DataFrame:
    """sort_values + limit -> TakeOrderedAndProject (no full sort)."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    s = orders.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True])
    return s[["o_orderkey", "o_totalprice"]].to_spark().limit(25)


def q_sample_deterministic(spark, sf_dir) -> DataFrame:
    """Deterministic hash-sample (engine-portable analog of the seeded
    random_score sample, eland/tasks.py:188-220): multiplicative hash of
    the key, identical integer arithmetic on both engines."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    sdf = orders.to_spark()
    h = F.pmod(F.col("o_orderkey") * F.lit(2654435761), F.lit(4294967296))
    return sdf.filter(h < 200000000).select("o_orderkey", "o_totalprice")


def q_distinct(spark, sf_dir) -> DataFrame:
    """unique() analog (composite-agg pagination -> distinct,
    reference eland/operations.py:796-820)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    return (
        li.to_spark().select("l_returnflag", "l_linestatus").distinct()
    )


# ---------------------------------------------------------------------------
# §2.4/2.9 — joins / set ops (beyond-reference, SURVEY §2.4)
# ---------------------------------------------------------------------------

def q_join_orders_customer(spark, sf_dir) -> DataFrame:
    """Broadcast dim join: orders x customer, grouped revenue by segment."""
    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey", broadcast=True)
    return (
        j.to_spark()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_join_multi_hop(spark, sf_dir) -> DataFrame:
    """TPC-H Q5-style 4-hop join: lineitem-orders-customer-nation-region,
    revenue per nation. Dims broadcast; the single big shuffle is the
    lineitem-orders join on orderkey."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    orders = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    cust = _t(spark, sf_dir, "customer", "c_custkey").to_spark()
    nation = _t(spark, sf_dir, "nation", "n_nationkey").to_spark()
    region = _t(spark, sf_dir, "region", "r_regionkey").to_spark()
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_top_orders(spark, sf_dir) -> DataFrame:
    """TPC-H Q3-style: top 10 orders by revenue for one segment."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    orders = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    cust = _t(spark, sf_dir, "customer", "c_custkey").to_spark()
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_semi_join(spark, sf_dir) -> DataFrame:
    """EXISTS: customers having at least one urgent order."""
    cust = _t(spark, sf_dir, "customer", "c_custkey").to_spark()
    orders = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


def q_anti_join(spark, sf_dir) -> DataFrame:
    """NOT EXISTS: customers with no orders."""
    cust = _t(spark, sf_dir, "customer", "c_custkey").to_spark()
    orders = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    return (
        cust.join(orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


def q_union_except_intersect(spark, sf_dir) -> DataFrame:
    """Set ops composition: (building ∪ machinery) ∖ (machinery ∩ pos-bal)."""
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    b = cust[cust.c_mktsegment == "BUILDING"][["c_custkey"]]
    m = cust[cust.c_mktsegment == "MACHINERY"][["c_custkey"]]
    pos = cust[cust.c_acctbal > 0][["c_custkey"]]
    result = b.union(m).except_(m.intersect(pos))
    return result.to_spark()


# ---------------------------------------------------------------------------
# §2.7 — window functions (beyond-reference)
# ---------------------------------------------------------------------------

def q_window_topk_per_group(spark, sf_dir) -> DataFrame:
    """Top-3 orders per priority by totalprice (row_number window)."""
    from eland_spark.operators.windowed import top_k_per_group

    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    out = top_k_per_group(
        orders, "o_orderpriority", "o_totalprice", k=3, tiebreak="o_orderkey"
    )
    return out[["o_orderpriority", "o_orderkey", "o_totalprice", "rn"]].to_spark()


def q_window_running_sum(spark, sf_dir) -> DataFrame:
    """Cumulative sum per user over time (events)."""
    from eland_spark.operators.windowed import running_agg

    ev = _t(spark, sf_dir, "events", "event_id")
    small = ev[ev.user_id < 20]
    out = running_agg(small, "user_id", ["ts", "event_id"], "value", "sum", "running_value")
    sdf = out[["event_id", "user_id", "running_value"]].to_spark()
    return sdf.withColumn("running_value", F.round(F.col("running_value"), 2))


def q_window_lag(spark, sf_dir) -> DataFrame:
    """lag(): previous order price per customer."""
    from eland_spark.operators.windowed import shifted

    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    small = orders[orders.o_custkey < 100]
    out = shifted(small, "o_custkey", ["o_orderdate", "o_orderkey"], "o_totalprice", 1, "prev_price")
    return out[["o_orderkey", "o_custkey", "prev_price"]].to_spark()


def q_sessionize(spark, sf_dir) -> DataFrame:
    """Gaps-and-islands sessionization (batch analog of streaming
    session_window; 30-minute gap)."""
    from eland_spark.operators.windowed import sessionize

    ev = _t(spark, sf_dir, "events", "event_id")
    small = ev[ev.user_id < 30]
    out = sessionize(small, "user_id", "ts", 1800, "session_id")
    sdf = out[["user_id", "session_id", "value"]].to_spark()
    return sdf.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


def q_events_tumbling(spark, sf_dir) -> DataFrame:
    """Tumbling 1-day window aggregation on the events stream table
    (batch twin of the streaming pipeline in eland_spark.streaming)."""
    ev = _t(spark, sf_dir, "events", "event_id")
    sdf = ev.to_spark()
    return (
        sdf.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# dedup / text / similarity extensions (documents, embeddings)
# ---------------------------------------------------------------------------

def q_melt_unpivot(spark, sf_dir) -> DataFrame:
    """Wide->long unpivot (pandas melt / Spark unpivot): Generate-style
    per-row expansion, zero shuffles. Library: DataFrame.melt."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    m = o.melt(id_vars="o_orderkey", value_vars=["o_totalprice", "o_custkey"])
    return m.to_spark().select(
        "o_orderkey", "variable", F.round("value", 2).alias("value")
    )


def q_global_rank_topk(spark, sf_dir) -> DataFrame:
    """Global row-number ranking WITHOUT the single-partition window
    cliff: range-sort + per-partition offsets + monotonic-id bit
    arithmetic (operators/ranking.py). Top-100 orders by price."""
    from eland_spark.operators.ranking import with_global_rank

    o = _t(spark, sf_dir, "orders", "o_orderkey")
    ranked = with_global_rank(
        o.to_spark(), ["o_totalprice", "o_orderkey"], ascending=False, rank_col="rnk"
    )
    return ranked.filter(F.col("rnk") <= 100).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rnk"
    )


def q_corr_matrix(spark, sf_dir) -> DataFrame:
    """Pairwise Pearson correlations in ONE aggregation pass (each corr
    is a streaming map-side-combinable agg — single scan at any scale).
    Library surface: DataFrame.corr."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    sdf = li.to_spark()
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    return sdf.agg(
        *[
            F.round(F.corr(F.col(a), F.col(b)), 6).alias(f"corr_{a}__{b}")
            for a, b in pairs
        ]
    )


def q_pivot_status(spark, sf_dir) -> DataFrame:
    """Wide pivot: order priority x status -> total price. Explicit
    pivot values keep it one shuffle with a fixed schema (pandas
    pivot_table surface; library: DataFrame.pivot_table)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    return (
        o.to_spark()
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


def q_events_sliding(spark, sf_dir) -> DataFrame:
    """Sliding 24h window / 12h slide aggregation (each event lands in
    two windows). Spark assigns epoch-aligned windows in one pass —
    the oracle reproduces the assignment with an explicit 2-offset
    cross join. Batch twin of streaming.windows.sliding."""
    ev = _t(spark, sf_dir, "events", "event_id")
    sdf = ev.to_spark()
    return (
        sdf.groupBy(
            F.window(F.col("ts"), "24 hours", "12 hours").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_groupby_mode(spark, sf_dir) -> DataFrame:
    """Per-group modal value, frequency ties to the LOWEST value
    (deterministic mode agg; the reference raises NotImplementedError,
    eland/groupby.py:701-702 — one map-side-combined hash aggregation
    here, same plan as any other agg). Library surface:
    DataFrameGroupBy.mode."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    return (
        li.to_spark()
        .groupBy("l_returnflag")
        .agg(
            F.mode(F.col("l_quantity"), True).alias("mode_qty"),
            F.round(F.mode(F.col("l_discount"), True), 6).alias("mode_disc"),
        )
    )


def q_groupby_idxmax(spark, sf_dir) -> DataFrame:
    """Per-group index of the extreme row (pandas GroupBy.idxmax; the
    reference's idxmax is whole-frame only via top_hits,
    eland/operations.py:207-254). min_by over a (-value, key) struct:
    extreme value first, lowest key on ties — single hash agg, no
    window, no self-join. Library surface: DataFrameGroupBy.idxmax."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    v = F.col("o_totalprice").cast("double")
    pair = F.when(
        v.isNotNull(), F.struct((-v).alias("o"), F.col("o_orderkey").alias("i"))
    )
    return (
        o.to_spark()
        .groupBy("o_orderpriority")
        .agg(F.min_by(F.col("o_orderkey"), pair).alias("idx_max_price"))
    )


def q_dedup_exact(spark, sf_dir) -> DataFrame:
    """Exact dedup by content hash: keep min doc_id per md5(text)."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = docs.to_spark()
    return (
        sdf.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def q_text_stats(spark, sf_dir) -> DataFrame:
    """Token counting + text statistics per document."""
    from eland_spark.operators.text import token_count, punct_ratio

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = docs.to_spark()
    return sdf.select(
        F.col("doc_id"),
        F.length(F.col("text")).cast("long").alias("len_chars"),
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.trim(F.col("text")), " "))).cast("long").alias("n_unique_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


def q_text_quality(spark, sf_dir) -> DataFrame:
    """Stopword-ratio quality signal per source."""
    from eland_spark.operators.text import stopword_ratio, token_count

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = docs.to_spark()
    per_doc = sdf.select(
        F.col("source"),
        stopword_ratio(F.col("text"), ["the", "a", "and", "of", "to"]).alias("sw"),
        token_count(F.col("text")).alias("nt"),
    )
    return per_doc.groupBy("source").agg(
        F.round(F.avg("sw"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("nt"), 6).alias("avg_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_text_repetition(spark, sf_dir) -> DataFrame:
    """Gopher-style within-doc repetition signals (word/bigram repeat
    fractions, top-word share) — per-row HOFs on the token array, no
    shuffle, no UDF; the curation filter shape for 100 TB text."""
    from eland_spark.operators.text import repetition_frame

    docs = _t(spark, sf_dir, "documents", "doc_id")
    out = repetition_frame(docs.to_spark(), F.col("text"), F.col("doc_id"))
    return out.select(
        F.col("__id__").alias("doc_id"),
        "n_words",
        F.round("word_rep_frac", 6).alias("word_rep_frac"),
        F.round("bigram_rep_frac", 6).alias("bigram_rep_frac"),
        F.round("top_word_frac", 6).alias("top_word_frac"),
    )


def q_lang_id(spark, sf_dir) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column: confusion
    counts. The per-row scoring expression dominates the map side, so
    the single-task bench scan is hash-spread first (gated no-op when
    the scan parallelizes by itself)."""
    from eland_spark.operators.parallelism import spread_for_compute
    from eland_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = spread_for_compute(
        docs.to_spark().select("doc_id", "lang", "text"), "doc_id"
    )
    return (
        sdf.select(F.col("lang"), lang_id(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_fingerprint(spark, sf_dir) -> DataFrame:
    """Order-invariant document fingerprint (sorted unique token set)."""
    from eland_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = docs.to_spark()
    return sdf.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))


def _maxsim_query_vectors(n: int = 4, dim: int = 64) -> list:
    """Deterministic 3-decimal literals — they parse bit-identically in
    any engine, so the oracle inlines the same values."""
    return [
        [(((1 + i * dim + j) * 2654435761) % 2001 - 1000) / 1000.0
         for j in range(dim)]
        for i in range(n)
    ]


def q_maxsim(spark, sf_dir) -> DataFrame:
    """Multi-vector late-interaction retrieval (MaxSim, ColBERT —
    Khattab & Zaharia 2020): embeddings rows act as token vectors of
    document vec_id % 50; 4 deterministic query token vectors ride as
    broadcast literals; per-token dots are zero-shuffle zip_with
    folds, the max-per-token reduction is ONE map-side-combinable doc
    hash agg, and top-10 plans as TakeOrderedAndProject."""
    from eland_spark.operators.similarity import maxsim_topk

    emb = _t(spark, sf_dir, "embeddings", "vec_id").to_spark()
    toks = emb.select(
        (F.col("vec_id") % 50).alias("doc_id"), F.col("embedding")
    )
    return maxsim_topk(toks, _maxsim_query_vectors(), k=10)


def _maxsim_oracle_sql() -> str:
    """DuckDB oracle for q_maxsim: identical inlined query-vector
    literals, list_dot_product per token, conditional max per query
    vector, fixed-order sum — the proven ann_bruteforce replay
    contract (sequential zip_with fold == list_dot_product at 6dp)."""
    qs = _maxsim_query_vectors()

    def lit(v):
        return "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"

    maxes = ",\n                   ".join(
        f"max(list_dot_product(embedding::DOUBLE[], {lit(q)})) AS m{i}"
        for i, q in enumerate(qs)
    )
    total = " + ".join(f"m{i}" for i in range(len(qs)))
    return f"""
        WITH mx AS (
            SELECT vec_id % 50 AS id,
                   {maxes}
            FROM embeddings GROUP BY 1
        )
        SELECT id, round({total}, 6) AS maxsim
        FROM mx ORDER BY maxsim DESC, id LIMIT 10
    """


def q_corpus_manifest(spark, sf_dir) -> DataFrame:
    """Content-integrity manifest per source (etl.corpus_manifest):
    row count + order-insensitive md5-sum checksum over the canonical
    row serialization — the between-stage reproducibility checkpoint
    and nightly drift tripwire (pairs with snapshot_diff). One hash
    aggregation; checksum exact in DECIMAL(38,0), shipped as string."""
    from eland_spark.etl import corpus_manifest

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    return corpus_manifest(
        docs, cols=["doc_id", "text", "lang", "n_chars"], by=["source"]
    )


def _corpus_manifest_oracle_sql() -> str:
    """DuckDB oracle for q_corpus_manifest: identical canonical
    serialization (string casts, NUL sentinel for nulls, unit
    separator), md5 15-hex -> BIGINT row hash, HUGEINT-exact sum cast
    to digits."""
    canon = (
        "concat_ws(chr(31), "
        "COALESCE(CAST(doc_id AS VARCHAR), chr(0)), "
        "COALESCE(text, chr(0)), "
        "COALESCE(lang, chr(0)), "
        "COALESCE(CAST(n_chars AS VARCHAR), chr(0)))"
    )
    return f"""
        SELECT source,
               count(*) AS n_rows,
               CAST(sum(CAST(('0x' || substr(md5({canon}), 1, 15)) AS BIGINT))
                    AS VARCHAR) AS checksum
        FROM documents
        GROUP BY source ORDER BY source
    """


def q_cluster_metrics(spark, sf_dir) -> DataFrame:
    """Clustering quality in one pass (operators/similarity.
    cluster_metrics): per-cluster size, inertia (k-means objective)
    and centroid-based simplified silhouette over seed centroids (the
    4 lowest-id embeddings — the ann_ivf_quantized_seeded portability
    contract). One nested-array centroid literal, per-row distance
    array materialized once, one hash agg on the cell."""
    from eland_spark.operators.similarity import cluster_metrics

    emb = _t(spark, sf_dir, "embeddings", "vec_id").to_spark()
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).select("embedding").collect()
    ]
    return cluster_metrics(emb, cents)


def _cluster_metrics_oracle_sql(n_cells: int = 4) -> str:
    """DuckDB oracle for q_cluster_metrics: the proven seeded-centroid
    L2 replay (sequential list_sum fold, ties to the lowest cell id),
    own/second distances via per-vector rank, identical silhouette
    formula."""
    l2 = (
        "list_sum(list_transform(generate_series(1, len({a})), "
        "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )
    d = l2.format(a="e.embedding", b="c.ce")
    return f"""
        WITH cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                   embedding AS ce
            FROM embeddings ORDER BY vec_id LIMIT {n_cells}
        ), pairs AS (
            SELECT e.vec_id, c.cid, {d} AS dsq,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {d} ASC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ), per AS (
            SELECT vec_id,
                   max(CASE WHEN rn = 1 THEN cid END) AS cell,
                   max(CASE WHEN rn = 1 THEN dsq END) AS d1,
                   min(CASE WHEN rn > 1 THEN dsq END) AS d2
            FROM pairs GROUP BY vec_id
        ), sil AS (
            SELECT cell, d1,
                   CASE WHEN greatest(sqrt(d1), sqrt(d2)) > 0
                        THEN (sqrt(d2) - sqrt(d1))
                             / greatest(sqrt(d1), sqrt(d2))
                        ELSE 0.0 END AS s
            FROM per
        )
        SELECT CAST(cell AS INTEGER) AS cell,
               count(*) AS n,
               round(sum(d1), 6) AS inertia,
               round(avg(s), 6) AS silhouette
        FROM sil GROUP BY cell ORDER BY cell
    """


def q_ann_bruteforce(spark, sf_dir) -> DataFrame:
    """Exact cosine top-10 to the vec_id=0 embedding (ANN baseline)."""
    from eland_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    qrow = emb.to_spark().filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrow[0]["embedding"]]
    out = cosine_topk(emb, qvec, k=10)
    sdf = out[["vec_id", "__cos__"]].to_spark()
    return sdf.select(F.col("vec_id"), F.round(F.col("__cos__"), 6).alias("cos_sim"))


def q_knn_join(spark, sf_dir) -> DataFrame:
    """Batched exact k-NN: top-5 neighbors for each of 4 query vectors
    in one pass — broadcast queries, 3-column rows through the single
    shuffle, per-query rank (operators/similarity.knn_join)."""
    from eland_spark.operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    queries = emb.to_spark().filter(F.col("vec_id") < 4)
    out = knn_join(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rnk"
    )


def q_embedding_norms(spark, sf_dir) -> DataFrame:
    """Vector norms per label (embedding-column plumbing check)."""
    from eland_spark.operators.similarity import norm

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    sdf = emb.to_spark()
    return (
        sdf.select(F.col("label"), norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_minhash_near_dup(spark, sf_dir) -> DataFrame:
    """MinHash+LSH near-dup PAIR SET on the fast xxhash64 path.

    The est_jaccard estimates are hash-dependent (different permutation
    families), but the detected (id_a, id_b) pair set is not: true
    near-dups sit far above the 0.5 estimate threshold and true
    non-dups far below it, so the thresholded pair set agrees with the
    md5-portable path (pinned by tests/test_hash_portability.py). That
    makes the id projection oracle-checkable against the portable
    DuckDB pipeline even though xxhash64 itself has no DuckDB
    equivalent; the md5 twin (q_minhash_near_dup_md5) still value-checks
    est_jaccard end-to-end."""
    from eland_spark.operators.dedup import minhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents", "doc_id")
    pairs = minhash_candidate_pairs(docs, "text", "doc_id", k=3, num_hashes=64, bands=16)
    return pairs.filter(F.col("est_jaccard") >= 0.5).select("id_a", "id_b")


def q_minhash_near_dup_md5(spark, sf_dir) -> DataFrame:
    """Portable-hash twin of minhash_near_dup: md5 shingle hashing
    (operators/dedup.minhash_signatures portable=True) makes the ENTIRE
    MinHash+LSH pipeline — tokenize, shingle, 64 affine permutations,
    16-band bucketing, candidate join, jaccard estimate — reproducible
    in DuckDB, so the flagship near-dup operator is hash-checked
    end-to-end (xxhash64 stays the fast default in minhash_near_dup)."""
    from eland_spark.operators.dedup import minhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents", "doc_id")
    pairs = minhash_candidate_pairs(
        docs, "text", "doc_id", k=3, num_hashes=64, bands=16, portable=True
    )
    return pairs.filter(F.col("est_jaccard") >= 0.5).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_simhash(spark, sf_dir) -> DataFrame:
    """SimHash fingerprints (rows-only: xxhash64-based)."""
    from eland_spark.operators.dedup import simhash_frame

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = docs.to_spark().filter(F.col("doc_id") < 100)
    out = simhash_frame(sdf, F.col("text"), F.col("doc_id"), 2)
    return out.select(F.col("__id__").alias("doc_id"), F.col("__simhash__").alias("simhash"))


def q_simhash_md5(spark, sf_dir) -> DataFrame:
    """Portable-hash twin of q_simhash: md5-derived 64-bit shingle
    pattern (simhash_frame portable=True) — the fingerprint itself is
    hash-checked bit-for-bit against the DuckDB oracle."""
    from eland_spark.operators.dedup import simhash_frame

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = docs.to_spark().filter(F.col("doc_id") < 100)
    out = simhash_frame(sdf, F.col("text"), F.col("doc_id"), 2, portable=True)
    return out.select(
        F.col("__id__").alias("doc_id"), F.col("__simhash__").alias("simhash")
    )


def q_simhash_near_dup_md5(spark, sf_dir) -> DataFrame:
    """Portable-hash twin of q_simhash_near_dup: pigeonhole banding +
    hamming verify over md5-portable fingerprints, fully reproduced in
    SQL (band content equality, bit_count(xor) distance)."""
    from eland_spark.operators.dedup import simhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents", "doc_id")
    return simhash_near_dup_pairs(
        docs.to_spark(), F.col("text"), F.col("doc_id"), k=2, max_hamming=3,
        portable=True,
    )


def q_ngram_jaccard(spark, sf_dir) -> DataFrame:
    """Exact 3-gram Jaccard VERIFICATION of MinHash+LSH candidate pairs
    — the scale-safe near-dup composition: the banded equi-join
    (operators/dedup.py minhash_candidate_pairs) generates candidates,
    ngram_jaccard (dedup.py) verifies them exactly. No crossJoin
    anywhere: the plan stays free of CartesianProduct /
    BroadcastNestedLoopJoin even with autoBroadcastJoinThreshold=-1
    (pinned in tests/test_plans.py), so it survives a 100x scale-up
    where an all-pairs self-join would not. md5-portable hashing makes
    the candidate set reproducible in the DuckDB oracle."""
    from eland_spark.operators.dedup import (
        minhash_candidate_pairs, with_ngram_jaccard,
    )

    docs = _t(spark, sf_dir, "documents", "doc_id")
    cands = minhash_candidate_pairs(
        docs, "text", "doc_id", k=3, num_hashes=64, bands=16, portable=True
    ).select("id_a", "id_b")
    txt = docs.to_spark().select("doc_id", "text")
    ta = txt.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta__"))
    tb = txt.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb__"))
    # with_ngram_jaccard stages each side's shingle array once instead
    # of inlining the tokenize chain 4x per pair; the pair-keyed
    # aggregate below is a PUSHDOWN BARRIER — without it the jac
    # threshold predicate is pushed into the join condition, re-inlining
    # the whole chain per reference (r8 opt: 7.2 -> ~1 s exec at sf0.1;
    # pairs are unique, so first(jac) per (id_a, id_b) is the identical
    # value and the extra exchange is candidate-pair-sized)
    pairs = with_ngram_jaccard(
        cands.join(ta, "id_a").join(tb, "id_b"),
        F.col("__ta__"), F.col("__tb__"), out_col="jac", k=3,
    )
    pairs = pairs.groupBy("id_a", "id_b").agg(F.first("jac").alias("jac"))
    return (
        pairs.filter(F.col("jac") >= 0.05)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


def q_editdist_near_dup(spark, sf_dir) -> DataFrame:
    """Edit-distance VERIFICATION of MinHash+LSH candidates — the
    character-level twin of q_ngram_jaccard for near-dup families
    where token shingles are too coarse (whitespace-mangled or
    template-edited docs). Same scale-safe shape: banded equi-join
    candidates, pairwise Levenshtein only on those pairs. All-integer
    arithmetic, so the md5-portable candidate set + DuckDB's
    levenshtein() replay it exactly."""
    from eland_spark.operators.dedup import edit_similarity, minhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents", "doc_id")
    cands = minhash_candidate_pairs(
        docs, "text", "doc_id", k=3, num_hashes=64, bands=16, portable=True
    ).select("id_a", "id_b")
    txt = docs.to_spark().select("doc_id", "text")
    ta = txt.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta__"))
    tb = txt.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb__"))
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a", "id_b",
            edit_similarity(F.col("__ta__"), F.col("__tb__")).alias("__s__"),
        )
        .filter(F.col("__s__") >= 0.2)  # exact integer arithmetic; the
        # oracle applies the same unrounded gate, so no margin anywhere
        .select("id_a", "id_b", F.round("__s__", 6).alias("edit_sim"))
    )


def _editdist_near_dup_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.2
) -> str:
    """Portable-md5 MinHash candidates (shared CTEs) + exact
    levenshtein verification. Candidates are identical by construction
    (both engines run the same md5 pipeline), and the similarity is
    integer arithmetic — no margin dependence anywhere."""
    ctes, _ = _minhash_cand_ctes(num_hashes, bands, k)
    sim = ("CASE WHEN greatest(length(a.text), length(b2.text)) > 0 "
           "THEN 1.0 - levenshtein(a.text, b2.text) * 1.0 / "
           "greatest(length(a.text), length(b2.text)) ELSE 1.0 END")
    return f"""
        WITH {ctes}
        SELECT c.id_a, c.id_b, round({sim}, 6) AS edit_sim
        FROM cand c
        JOIN documents a ON a.doc_id = c.id_a
        JOIN documents b2 ON b2.doc_id = c.id_b
        WHERE {sim} >= {threshold}
    """


def q_mixture_sample(spark, sf_dir) -> DataFrame:
    """Weighted dataset mixture plumbing; weights of 1.0 make the
    mixture deterministic (pure unionByName), so the oracle checks the
    source composition exactly."""
    from eland_spark.operators.sampling import mix_datasets

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    a = docs.filter(F.col("source") == "src0")
    b = docs.filter(F.col("source") == "src1")
    mixed = mix_datasets([(a, 1.0), (b, 1.0)])
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


def q_sample_exact_n(spark, sf_dir) -> DataFrame:
    """Exactly-n seeded sample, portable ranking: md5-derived key on
    the unique id reproduces the identical sample in DuckDB — full
    hash-check (one TakeOrdered, no full sort)."""
    from eland_spark.operators.sampling import sample_exact_n

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = sample_exact_n(docs, 50, seed=7, order_col="doc_id", portable=True)
    return out.select("doc_id", "source")


def q_ann_ivf_partitioned(spark, sf_dir) -> DataFrame:
    """IVF storage round-trip: write the vector table partitioned by
    centroid cell, probe ALL cells back through partition-pruned reads
    — with a full probe the result is exact, so the brute-force oracle
    hash-checks the entire write/prune/score path."""
    import tempfile

    from eland_spark.operators.similarity import ivf_index, ivf_read_topk, ivf_write

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    centroids = ivf_index(emb, n_cells=4, max_iter=2)
    path = tempfile.mkdtemp(prefix="eland_spark_ivf_") + "/t"
    ivf_write(emb, path, centroids)
    qrow = emb.to_spark().filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrow[0]["embedding"]]
    out = ivf_read_topk(spark, path, qvec, centroids, k=10, nprobe=4)
    return out.select("vec_id", F.round(F.col("__cos__"), 6).alias("cos_sim"))


def q_stratified_sample(spark, sf_dir) -> DataFrame:
    """Per-stratum sampling plumbing; fractions of 1.0 make the sample
    deterministic, so the oracle checks stratum selection exactly."""
    from eland_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents", "doc_id")
    out = stratified_sample(docs.to_spark(), "source", {"src0": 1.0, "src2": 1.0})
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


def q_simhash_near_dup(spark, sf_dir) -> DataFrame:
    """SimHash hamming-radius near-dup pairs via pigeonhole banding
    (rows-only: xxhash64-based fingerprints)."""
    from eland_spark.operators.dedup import simhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents", "doc_id")
    return simhash_near_dup_pairs(
        docs.to_spark(), F.col("text"), F.col("doc_id"), k=2, max_hamming=3
    )


def q_vocabulary(spark, sf_dir) -> DataFrame:
    """Corpus vocabulary top-100 (training-data tokenizer-building op):
    explode -> map-side-combined groupBy, deterministic tie-break."""
    from eland_spark.operators.text import vocabulary

    docs = _t(spark, sf_dir, "documents", "doc_id")
    return vocabulary(docs.to_spark(), F.col("text"), min_count=2, top_k=100)


_BPE_PARAMS = {"n_merges": 8, "min_count": 2, "max_words": 200}
_BPE_SEG_MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("o", "n")]


def q_shard_by_budget(spark, sf_dir) -> DataFrame:
    """Token-budget shard assignment (operators/packing.shard_by_budget):
    budget slicing of the global running token total via the windowless
    bucket cumsum — the write-side layout op for training shards.
    Returns the per-shard summary (count + token sum) so the oracle
    checks every boundary decision."""
    from eland_spark.operators.packing import shard_by_budget
    from eland_spark.operators.text import bpe_ish_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wt = docs.select(
        "doc_id",
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    sh = shard_by_budget(wt, ["doc_id"], "n_tokens", budget=4096)
    return sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tok_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_allocate_budget(spark, sf_dir) -> DataFrame:
    """Water-filling token-budget allocation across sources
    (operators/sampling.allocate_budget): weights = sqrt(doc count),
    caps = available tokens, budget = half the corpus — capped sources
    redistribute surplus. Closed-form lambda via the windowless prefix
    plan; the oracle replays the threshold scan with SQL windows."""
    from eland_spark.operators.sampling import allocate_budget
    from eland_spark.operators.text import bpe_ish_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dom = docs.groupBy(F.col("source").alias("domain")).agg(
        F.sqrt(F.count(F.lit(1)).cast("double")).alias("w"),
        F.sum(bpe_ish_token_count(F.col("text")).cast("long"))
        .cast("double")
        .alias("cap"),
    )
    total = 0.5 * dom.agg(F.sum("cap")).collect()[0][0]
    out = allocate_budget(dom, "domain", "w", "cap", total)
    return out.select(
        "domain",
        F.round("w", 6).alias("w"),
        F.round("cap", 2).alias("cap"),
        F.round("alloc", 4).alias("alloc"),
    )


_ALLOCATE_BUDGET_ORACLE = """
    WITH dom AS (
        SELECT source AS domain,
               sqrt(CAST(count(*) AS DOUBLE)) AS w,
               CAST(sum(CAST(list_sum(list_transform(
                    string_split_regex(trim(lower(text)), '\\s+'),
                    t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT))
                    AS DOUBLE) AS cap
        FROM documents GROUP BY source
    ), t AS (
        SELECT 0.5 * sum(cap) AS total, sum(w) AS wtot FROM dom
    ), c AS (
        SELECT d.*, t.total, t.wtot,
               cap / w AS r,
               sum(cap) OVER (ORDER BY cap / w, domain
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cap,
               sum(w) OVER (ORDER BY cap / w, domain
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
        FROM dom d, t
    ), lamt AS (
        SELECT (total - (cum_cap - cap)) / (wtot - (cum_w - w)) AS lam
        FROM c
        WHERE (total - (cum_cap - cap)) / (wtot - (cum_w - w)) <= r
        ORDER BY r, domain LIMIT 1
    )
    SELECT domain, round(w, 6) AS w, round(cap, 2) AS cap,
           round(CASE WHEN (SELECT lam FROM lamt) IS NULL THEN cap
                      ELSE greatest(0.0, least(cap, (SELECT lam FROM lamt) * w))
                 END, 4) AS alloc
    FROM c
"""


def q_zorder_cluster(spark, sf_dir) -> DataFrame:
    """Morton z-value clustering key (operators/zorder): min/max-bucket
    (l_partkey, l_suppkey) to 6 bits each and interleave — the sort key
    behind multi-column file skipping. Pure shift/OR codegen; the
    per-z-cell summary checks every bucket and interleave decision."""
    from eland_spark.operators.zorder import _bucket, zvalue

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    b = li.agg(
        F.min(F.col("l_partkey").cast("double")).alias("lo_p"),
        F.max(F.col("l_partkey").cast("double")).alias("hi_p"),
        F.min(F.col("l_suppkey").cast("double")).alias("lo_s"),
        F.max(F.col("l_suppkey").cast("double")).alias("hi_s"),
    ).collect()[0]
    z = zvalue(
        [
            _bucket(F.col("l_partkey"), b["lo_p"], b["hi_p"], 6),
            _bucket(F.col("l_suppkey"), b["lo_s"], b["hi_s"], 6),
        ],
        6,
    )
    return (
        li.withColumn("zval", z)
        .groupBy("zval")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
    )


def _zorder_oracle_sql(bits: int = 6) -> str:
    """DuckDB oracle for q_zorder_cluster: identical linear bucketing
    (scalar-subquery bounds) and bit interleave (disjoint positions, so
    + replaces |)."""
    top = (1 << bits) - 1

    def bucket(col, lo, hi):
        return (
            f"CAST(least({top}.0, greatest(0.0, round((CAST({col} AS DOUBLE)"
            f" - {lo}) / ({hi} - {lo}) * {top}.0))) AS BIGINT)"
        )

    bp = bucket("l_partkey", "(SELECT min(CAST(l_partkey AS DOUBLE)) FROM lineitem)",
                "(SELECT max(CAST(l_partkey AS DOUBLE)) FROM lineitem)")
    bs = bucket("l_suppkey", "(SELECT min(CAST(l_suppkey AS DOUBLE)) FROM lineitem)",
                "(SELECT max(CAST(l_suppkey AS DOUBLE)) FROM lineitem)")
    terms = []
    for i, bexpr in enumerate(("bp", "bs")):
        for j in range(bits):
            terms.append(f"((({bexpr} >> {j}) & 1) << {j * 2 + i})")
    return f"""
        WITH z AS (
            SELECT l_partkey, l_suppkey,
                   CAST({" + ".join(terms)} AS BIGINT) AS zval
            FROM (SELECT l_partkey, l_suppkey, {bp} AS bp, {bs} AS bs
                  FROM lineitem)
        )
        SELECT zval, count(*) AS n,
               min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
               min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
        FROM z GROUP BY 1
    """


def q_bpe_train(spark, sf_dir) -> DataFrame:
    """BPE tokenizer TRAINING in-engine (operators/bpe.learn_bpe,
    Sennrich et al. 2016): one corpus pass builds the word-frequency
    table, then every merge iteration is a tiny pair-count aggregation
    over that vocabulary-sized table — per-iteration cost independent
    of corpus size, driver state one pair per merge. The engine-portable
    left-to-right merge scan (separator-doubled string replace) lets
    the DuckDB oracle replay ALL iterations as chained CTEs."""
    from eland_spark.operators.bpe import learn_bpe

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    merges = learn_bpe(docs, F.col("text"), **_BPE_PARAMS)
    rows = [
        (i + 1, left, right, left + right)
        for i, (left, right) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank bigint, left_sym string, right_sym string, merged string"
    )


def q_bpe_segment(spark, sf_dir) -> DataFrame:
    """BPE ENCODE with a fixed merge table (operators/bpe.bpe_segment):
    replay merges in rank order per word — one codegen'd column
    expression. The merge replay is heavy per row, so the single-task
    bench scan is hash-spread across the cluster first (gated no-op
    when the scan parallelizes by itself — operators/parallelism.py)."""
    from eland_spark.operators.bpe import bpe_segment
    from eland_spark.operators.parallelism import spread_for_compute

    docs = spread_for_compute(
        _t(spark, sf_dir, "documents", "doc_id").to_spark()
        .select("doc_id", "text"),
        "doc_id",
    )
    sub = bpe_segment(F.col("text"), _BPE_SEG_MERGES)
    return docs.select(
        "doc_id",
        F.size(sub).cast("bigint").alias("n_sub"),
        F.concat_ws("|", F.slice(sub, 1, 5)).alias("head"),
    )


def _bpe_oracle_sql(
    n_merges: int = 8, min_count: int = 2, max_words: int = 200
) -> str:
    """DuckDB oracle for q_bpe_train: the full training loop as chained
    CTEs — word frequencies (same tokenization as the vocabulary
    oracle), then per iteration a pair-count CTE, an argmax CTE, and a
    merge-application CTE using the identical separator-doubled
    replace, so every merge decision is replayed bit-for-bit."""
    ctes = [
        f"""wf AS (
            SELECT token, count(*) AS cnt FROM (
                SELECT unnest(list_filter(
                    string_split_regex(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+'),
                    t -> t != '')) AS token
                FROM documents
            ) GROUP BY token HAVING count(*) >= {min_count}
            ORDER BY cnt DESC, token ASC LIMIT {max_words}
        )""",
        """w0 AS (
            SELECT array_to_string(string_split(token, ''), ' ') AS syms, cnt
            FROM wf
        )""",
    ]
    for i in range(n_merges):
        ctes.append(f"""p{i} AS (
            SELECT pair, sum(cnt) AS n FROM (
                SELECT unnest(list_transform(
                    generate_series(1, len(l) - 1),
                    j -> l[j] || ' ' || l[j + 1])) AS pair, cnt
                FROM (SELECT string_split(syms, ' ') AS l, cnt FROM w{i})
            ) GROUP BY pair
        )""")
        ctes.append(f"""m{i} AS (
            SELECT pair FROM p{i} ORDER BY n DESC, pair ASC LIMIT 1
        )""")
        ctes.append(f"""w{i + 1} AS (
            SELECT trim(regexp_replace(
                replace(' ' || replace(w.syms, ' ', '  ') || ' ',
                        ' ' || split_part(m.pair, ' ', 1) || '  '
                            || split_part(m.pair, ' ', 2) || ' ',
                        ' ' || replace(m.pair, ' ', '') || ' '),
                ' +', ' ', 'g')) AS syms, w.cnt
            FROM w{i} w, m{i} m
        )""")
    finals = [
        f"""SELECT CAST({i + 1} AS BIGINT) AS rank,
               split_part(pair, ' ', 1) AS left_sym,
               split_part(pair, ' ', 2) AS right_sym,
               replace(pair, ' ', '') AS merged
            FROM m{i}"""
        for i in range(n_merges)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


def _bpe_segment_oracle_sql(merges) -> str:
    """DuckDB oracle for q_bpe_segment: per-word chained separator-
    doubled replaces (one per merge, in rank order), then flatten."""
    expr = "array_to_string(string_split(w, ''), ' ')"
    for left, right in merges:
        expr = (
            "trim(regexp_replace(replace("
            f"' ' || replace({expr}, ' ', '  ') || ' ', "
            f"' {left}  {right} ', ' {left}{right} '), ' +', ' ', 'g'))"
        )
    return f"""
        WITH segged AS (
            SELECT doc_id, flatten(list_transform(
                list_filter(
                    string_split_regex(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+'),
                    t -> t != ''),
                w -> string_split({expr}, ' '))) AS allsubs
            FROM documents
        )
        SELECT doc_id,
               CAST(len(allsubs) AS BIGINT) AS n_sub,
               array_to_string(allsubs[1:5], '|') AS head
        FROM segged
    """


def q_embed_dedup(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-dup removal: LSH signature buckets ->
    verified cosine >= threshold -> drop higher id. The hyperplanes are
    a deterministic LCG, so DuckDB recomputes identical signatures
    (left-to-right double folds on both engines) — full hash-check.
    Returns survivor count per label."""
    from eland_spark.operators.similarity import embedding_dedup

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    kept = embedding_dedup(emb, threshold=0.95, n_planes=8)
    return kept.to_spark().groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept")
    )


def q_text_advanced(spark, sf_dir) -> DataFrame:
    """Composite quality score + BPE-ish subword token count (both pure
    Column expressions; the rolling-hash fingerprint stays rows-only in
    other queries because xxhash64 has no DuckDB twin)."""
    from eland_spark.operators.text import bpe_ish_token_count, quality_score

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sdf = docs.to_spark()
    return sdf.select(
        F.col("doc_id"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


def q_ann_lsh(spark, sf_dir) -> DataFrame:
    """Approximate top-k via cosine-LSH candidate pruning (the scale
    path: signature filter prunes the scored set; at 100 TB the
    signature is a persisted bucket/partition key)."""
    from eland_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    qrow = emb.to_spark().filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrow[0]["embedding"]]
    out = lsh_topk(emb, qvec, k=10, n_planes=12, max_hamming=2)
    sdf = out[["vec_id", "__cos__"]].to_spark()
    return sdf.select(F.col("vec_id"), F.round(F.col("__cos__"), 6).alias("cos_sim"))


def q_ann_ivf_quantized(spark, sf_dir) -> DataFrame:
    """IVF + int8 asymmetric search (operators/similarity): probe
    cells on 4x-smaller quantized codes, exact rerank of the short
    candidate list — the billion-vector memory/IO pattern. Approximate
    by design (rows-only check)."""
    from eland_spark.operators.similarity import ivf_index, ivf_quantized_topk

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    qv = [float(x) for x in
          emb.to_spark().filter(F.col("vec_id") == 1).collect()[0]["embedding"]]
    cents = ivf_index(emb, n_cells=8, max_iter=2)
    return ivf_quantized_topk(emb, qv, cents, k=10, nprobe=3).select(
        "id", F.round("cos", 6).alias("cos")
    )


def q_ann_ivf_quantized_seeded(spark, sf_dir) -> DataFrame:
    """Portable twin of ann_ivf_quantized: engine-agnostic seed
    centroids (8 lowest-id vectors, no Lloyd refinement) make the WHOLE
    int8 asymmetric-search path — cell assign, nprobe pruning, double
    quantize/dequantize, approximate top-40, exact rerank — pure
    deterministic arithmetic, so DuckDB hash-checks it end-to-end
    (Lloyd-refined centroids stay in ann_ivf_quantized, rows-only)."""
    from eland_spark.operators.similarity import ivf_index, ivf_quantized_topk

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    qv = [float(x) for x in
          emb.to_spark().filter(F.col("vec_id") == 1).collect()[0]["embedding"]]
    cents = ivf_index(emb, n_cells=8, max_iter=0, seed_strategy="first")
    return ivf_quantized_topk(emb, qv, cents, k=10, nprobe=3).select(
        "id", F.round("cos", 6).alias("cos")
    )


def q_ann_ivf(spark, sf_dir) -> DataFrame:
    """IVF top-k with nprobe cell pruning, on engine-agnostic seed
    centroids (the 8 lowest-id vectors, no Lloyd refinement) so the
    whole assign/probe/score pipeline is reproducible in SQL — full
    hash-check of the approximate result, not just rows. Lloyd-refined
    centroids are exercised by ann_ivf_quantized and pytest."""
    from eland_spark.operators.similarity import ivf_index, ivf_topk

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    qrow = emb.to_spark().filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrow[0]["embedding"]]
    centroids = ivf_index(emb, n_cells=8, max_iter=0, seed_strategy="first")
    out = ivf_topk(emb, qvec, centroids, k=10, nprobe=3)
    sdf = out[["vec_id", "__cos__"]].to_spark()
    return sdf.select(F.col("vec_id"), F.round(F.col("__cos__"), 6).alias("cos_sim"))


def _sig_terms_sql(n_planes: int, dim: int) -> str:
    """The LSH bit-signature as SQL: same LCG hyperplanes as the Spark
    side, emitted as list literals (md5-free determinism — both engines
    fold doubles left-to-right)."""
    from eland_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes, seed=42)
    return " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _lsh_oracle_sql(n_planes: int = 12, dim: int = 64, max_hamming: int = 2) -> str:
    """DuckDB oracle for q_ann_lsh, with the SAME deterministic
    hyperplanes emitted as SQL list literals."""
    sig_terms = _sig_terms_sql(n_planes, dim)
    return f"""
        WITH s AS (
            SELECT vec_id, embedding, ({sig_terms})::BIGINT AS sig
            FROM embeddings
        ), q AS (
            SELECT embedding AS qv, sig AS qsig FROM s WHERE vec_id = 0
        )
        SELECT vec_id,
               round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cos_sim
        FROM s, q
        WHERE bit_count(xor(s.sig, q.qsig)) <= {max_hamming}
        ORDER BY list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))) DESC,
                 vec_id ASC
        LIMIT 10
    """


def _minhash_cand_ctes(
    num_hashes: int = 64, bands: int = 16, k: int = 3,
    src: str = "documents",
) -> tuple[str, str]:
    """Shared WITH-clause interior for the portable-md5 MinHash oracles:
    the identical tokenize -> k-shingle -> md5 hash -> (a*h+b) mod p
    min-signature -> band-bucket join pipeline, with the same LCG
    permutation constants emitted as literals. Band buckets join on
    band CONTENT (Spark hashes the content to a key — same pair set).
    ``src`` is the FROM clause of the corpus (a table name or a
    parenthesized subquery exposing doc_id + text). Returns (cte_body
    ending at cand(id_a, id_b), per-pair signature-match count
    expression over aliases a/bb)."""
    from eland_spark.operators.dedup import MINHASH_PRIME, minhash_params

    p = MINHASH_PRIME
    params = minhash_params(num_hashes, seed=42)
    rpb = num_hashes // bands
    mins = ",\n                   ".join(
        f"min(({a} * hv + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    bandrows = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS b, {key} AS key FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"m{i}" for i in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = bb.m{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    ctes = f"""toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM {src}
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= {k} THEN
                            [array_to_string(l[i:i+{k - 1}], ' ')
                             for i in generate_series(1, len(l) - {k - 1})]
                        WHEN len(l) > 0 THEN [array_to_string(l, ' ')]
                        ELSE [] END AS ss
            FROM toks
        ), e AS (
            SELECT doc_id, unnest(ss) AS s FROM sh
        ), h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p} AS hv
            FROM e
        ), sig AS (
            SELECT doc_id,
                   {mins}
            FROM h GROUP BY doc_id
        ), bandrows AS (
            {bandrows}
        ), cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM bandrows l JOIN bandrows r
              ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        )"""
    return ctes, matches


def _minhash_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.5
) -> str:
    """DuckDB oracle for q_minhash_near_dup_md5 (pipeline CTEs shared
    with the components oracle — see _minhash_cand_ctes).

    CAVEAT (ADVICE r3): reusing this oracle for the FAST xxhash64
    entries (minhash_near_dup, near_dup_components) relies on a
    dataset-dependent margin — no pair's est_jaccard straddles the 0.5
    threshold under either hash family — not a theorem.
    tests/test_hash_portability.py is the canary; if the testdata
    fixtures ever change, re-verify the margin there BEFORE trusting an
    oracle failure on those entries (it could be a known hash
    divergence, not a bug)."""
    ctes, matches = _minhash_cand_ctes(num_hashes, bands, k)
    return f"""
        WITH {ctes}
        SELECT c.id_a, c.id_b,
               round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
        FROM cand c
        JOIN sig a ON a.doc_id = c.id_a
        JOIN sig bb ON bb.doc_id = c.id_b
        WHERE ({matches}) / {float(num_hashes)} >= {threshold}
    """


def _ngram_jaccard_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.05
) -> str:
    """DuckDB oracle for q_ngram_jaccard: the portable-md5 MinHash
    candidate pipeline (shared CTEs) with exact shingle-set Jaccard
    verification replacing the signature estimate. NOTE
    (hash-portability caveat, see ADVICE r3): the candidate SET depends
    on the md5 permutation family; both engines run the identical md5
    pipeline here so the match is exact by construction, not
    margin-dependent."""
    ctes, _ = _minhash_cand_ctes(num_hashes, bands, k)
    # the shared sh CTE keeps duplicate shingles (MinHash min-agg is
    # duplicate-insensitive); exact Jaccard is set-based, so distinct here
    jac = (
        "len(list_intersect(list_distinct(a.ss), list_distinct(b2.ss))) * 1.0 / "
        "(len(list_distinct(a.ss)) + len(list_distinct(b2.ss)) "
        "- len(list_intersect(list_distinct(a.ss), list_distinct(b2.ss))))"
    )
    return f"""
        WITH {ctes}
        SELECT c.id_a, c.id_b, round({jac}, 6) AS jac
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b2 ON b2.doc_id = c.id_b
        WHERE {jac} >= {threshold}
    """


def _md5_emb_ctes(prefix: str, src: str, idc: str, dim: int = 64) -> str:
    """CTE chain reproducing the hashed bag-of-words encoder
    (ml/embeddings.hashed_embedding_batch) in SQL for each
    (``idc``, text) row of CTE ``src``: md5 hex prefix -> UBIGINT
    bucket, count, double-precision normalize, FLOAT cast
    (bit-identical to numpy's float32 round). Final CTE is
    ``{prefix}emb({idc}, e)``."""
    return f"""{prefix}toks AS (
            SELECT {idc},
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM {src}
        ), {prefix}vecs AS (
            SELECT {idc},
                   CAST(CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT)
                        % {dim} AS BIGINT) AS b,
                   CAST(count(*) AS DOUBLE) AS c
            FROM {prefix}toks GROUP BY 1, 2
        ), {prefix}dense AS (
            SELECT s.{idc}, g.i, COALESCE(v.c, 0.0) AS c
            FROM (SELECT DISTINCT {idc} FROM {src}) s
            CROSS JOIN (SELECT unnest(generate_series(0, {dim - 1})) AS i) g
            LEFT JOIN {prefix}vecs v ON v.{idc} = s.{idc} AND v.b = g.i
        ), {prefix}nrm AS (
            SELECT {idc}, sqrt(sum(c * c)) AS n FROM {prefix}dense GROUP BY 1
        ), {prefix}emb AS (
            SELECT d.{idc},
                   list(CAST(CASE WHEN n > 0 THEN c / n ELSE c END AS FLOAT)
                        ORDER BY i) AS e
            FROM {prefix}dense d JOIN {prefix}nrm USING ({idc})
            GROUP BY d.{idc}, n
        )"""


def _embed_topk_oracle_sql(dim: int = 64, k: int = 5) -> str:
    """DuckDB oracle for q_embed_topk: SQL-reproduced encoder
    (_md5_emb_ctes) + the same cosine top-k as ann_bruteforce."""
    emb = _md5_emb_ctes(
        "", "(SELECT doc_id, text FROM documents WHERE source = 'src0')",
        "doc_id", dim,
    )
    return f"""
        WITH {emb}, q AS (
            SELECT e AS qe FROM emb
            WHERE doc_id = (SELECT min(doc_id) FROM emb)
        )
        SELECT doc_id,
               round(list_dot_product(e::DOUBLE[], qe::DOUBLE[])
                     / (sqrt(list_dot_product(e::DOUBLE[], e::DOUBLE[]))
                        * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))), 6)
                   AS cos_sim
        FROM emb, q
        ORDER BY list_dot_product(e::DOUBLE[], qe::DOUBLE[])
                 / (sqrt(list_dot_product(e::DOUBLE[], e::DOUBLE[]))
                    * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))) DESC,
                 doc_id ASC
        LIMIT {k}
    """


def _boilerplate_oracle_sql(delim: str = ". ", min_docs: int = 5) -> str:
    """DuckDB oracle for q_boilerplate: identical split -> distinct-doc
    count -> mark -> ordered string_agg rebuild."""
    return f"""
        WITH base AS (
            SELECT doc_id, string_split(text, '{delim}') AS l FROM documents
        ), seg AS (
            SELECT doc_id, l,
                   unnest(generate_series(1, len(l))) AS i
            FROM base
        ), seg2 AS (
            SELECT doc_id, i, l[i] AS s, trim(l[i]) AS nrm FROM seg
        ), boiler AS (
            SELECT nrm
            FROM (SELECT DISTINCT doc_id, nrm FROM seg2 WHERE nrm <> '')
            GROUP BY nrm HAVING count(*) >= {min_docs}
        ), marked AS (
            SELECT s2.doc_id, s2.i, s2.s, (b.nrm IS NOT NULL) AS is_b
            FROM seg2 s2 LEFT JOIN boiler b ON b.nrm = s2.nrm
        )
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN NOT is_b THEN s END,
                                   '{delim}' ORDER BY i), '') AS clean_text,
               CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed
        FROM marked GROUP BY doc_id
    """


def _perplexity_oracle_sql(top_v: int = 100, floor_count: float = 0.5) -> str:
    """DuckDB oracle for q_perplexity: rebuild the top-``top_v`` unigram
    table (same count-desc/token-asc cut), pack it into a MAP, and
    replay the per-doc ln-fold with the identical OOV floor."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents
        ), vocab AS (
            SELECT token, count(*) AS cnt
            FROM (SELECT unnest(l) AS token FROM toks)
            GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {top_v}
        ), lm AS (
            SELECT map(list(token ORDER BY token),
                       list(CAST(cnt AS DOUBLE) ORDER BY token)) AS m
            FROM vocab
        ), tot AS (
            SELECT CAST(sum(len(l)) AS DOUBLE) AS total FROM toks
        )
        SELECT t.doc_id,
               CAST(len(l) AS BIGINT) AS n_tokens,
               CASE WHEN len(l) > 0 THEN
                   round(-list_sum(list_transform(l,
                       tk -> ln(COALESCE(map_extract(m, tk)[1],
                                         {floor_count}) / total)))
                         / len(l), 6)
               END AS logppl
        FROM toks t, lm, tot
    """


def _ppl_buckets_oracle_sql(top_v: int = 100, floor_count: float = 0.5) -> str:
    """DuckDB oracle for q_ppl_buckets: the q_perplexity LM fold with
    the language column carried through, then NTILE(3) per language over
    (rounded logppl, doc_id) — the identical bit-stable tile order."""
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents
        ), vocab AS (
            SELECT token, count(*) AS cnt
            FROM (SELECT unnest(l) AS token FROM toks)
            GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {top_v}
        ), lm AS (
            SELECT map(list(token ORDER BY token),
                       list(CAST(cnt AS DOUBLE) ORDER BY token)) AS m
            FROM vocab
        ), tot AS (
            SELECT CAST(sum(len(l)) AS DOUBLE) AS total FROM toks
        ), scored AS (
            SELECT t.doc_id, t.lang,
                   CAST(len(l) AS BIGINT) AS n_tokens,
                   round(-list_sum(list_transform(l,
                       tk -> ln(COALESCE(map_extract(m, tk)[1],
                                         {floor_count}) / total)))
                         / len(l), 6) AS logppl
            FROM toks t, lm, tot
            WHERE len(l) > 0
        ), tiled AS (
            SELECT doc_id, lang, n_tokens, logppl,
                   CAST(NTILE(3) OVER (PARTITION BY lang
                        ORDER BY logppl ASC, doc_id ASC) AS BIGINT) AS bucket
            FROM scored
        )
        SELECT doc_id, lang, n_tokens, logppl, bucket,
               CASE WHEN bucket = 1 THEN 'head'
                    WHEN bucket = 3 THEN 'tail'
                    ELSE 'middle' END AS tier
        FROM tiled
    """


_GROUPBY_FIRST_LAST_ORACLE = """
    SELECT o_orderpriority,
           round(arg_min(o_totalprice, o_orderkey), 2) AS first_price,
           round(arg_max(o_totalprice, o_orderkey), 2) AS last_price,
           arg_min(o_orderstatus, o_orderkey) AS first_status,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1 ORDER BY 1
"""


_ELEMENTWISE_FRAME_ORACLE = """
    WITH shaped AS (
        SELECT least(greatest(l_quantity, 0.01), 30.0) AS q,
               least(greatest(l_discount, 0.01), 30.0) AS d,
               least(greatest(l_tax, 0.01), 30.0) AS t
        FROM lineitem
    ), ev AS (
        SELECT q, d, t, d + t AS dt FROM shaped
    ), m AS (
        SELECT CASE WHEN q > 5.0 THEN q ELSE 0.0 END AS q,
               CASE WHEN q > 5.0 THEN d ELSE 0.0 END AS d,
               CASE WHEN q > 5.0 THEN t ELSE 0.0 END AS t,
               CASE WHEN q > 5.0 THEN dt ELSE 0.0 END AS dt
        FROM ev
    )
    SELECT round(sum(q), 2) AS sum_q,
           round(sum(d), 4) AS sum_d,
           round(sum(t), 4) AS sum_t,
           round(sum(dt), 4) AS sum_dt,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM m
"""


_CONCAT_FRAMES_ORACLE = """
    WITH unioned AS (
        SELECT doc_id, text, lang, source, n_chars
        FROM documents WHERE source = 'src1'
        UNION ALL
        SELECT doc_id, text, lang, NULL AS source, NULL AS n_chars
        FROM documents WHERE source = 'src2'
    )
    SELECT COALESCE(source, 'none') AS src,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(COALESCE(n_chars, 0)) AS BIGINT) AS chars
    FROM unioned GROUP BY 1 ORDER BY 1
"""


_SERIES_STATS_ORACLE = """
    SELECT round(corr(o_totalprice, o_custkey), 6) AS corr_tp_ck,
           round(covar_samp(o_totalprice, o_custkey), 6) AS cov_tp_ck,
           round(stddev_samp(o_totalprice) / sqrt(count(o_totalprice)), 6) AS sem_tp,
           (SELECT round(corr(v, pv), 6) FROM (
                SELECT o_totalprice AS v,
                       lag(o_totalprice, 2) OVER (ORDER BY o_orderkey) AS pv
                FROM orders)) AS autocorr_tp
    FROM orders
"""


_CAP_PER_DOMAIN_ORACLE = """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
        FROM documents
    ) WHERE rn <= 10
"""


_TOKEN_BUDGET_ORACLE = """
    SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               SUM(GREATEST(CAST(n_chars AS DOUBLE), 0.0)) OVER (
                   PARTITION BY source
                   ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR || '42'),
                                  1, 15)) AS BIGINT) ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents
    ) WHERE cum <= 3000.0
"""


def _shingle_cte(rel: str, k: int) -> str:
    """Subquery producing (doc_id, ss: list of word k-shingles) from a
    relation/CTE ``rel`` exposing (doc_id, text) — the SQL twin of
    operators/dedup.shingles (incl. the short-text fallback)."""
    return f"""(
            SELECT doc_id,
                   CASE WHEN len(l) >= {k} THEN
                            [array_to_string(l[i:i+{k - 1}], ' ')
                             for i in generate_series(1, len(l) - {k - 1})]
                        WHEN len(l) > 0 THEN [array_to_string(l, ' ')]
                        ELSE [] END AS ss
            FROM (
                SELECT doc_id,
                       list_filter(string_split_regex(regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
                FROM {rel}
            )
        )"""


def _decontaminate_oracle_sql(k: int = 5) -> str:
    """DuckDB oracle for q_decontaminate: identical tokenize ->
    k-shingle pipeline on both the corpus and the src2 benchmark slice,
    then an IN-join on raw shingle strings."""
    return f"""
        WITH ce AS (
            SELECT doc_id, unnest(ss) AS s FROM {_shingle_cte("documents", k)}
        ), be AS (
            SELECT DISTINCT unnest(ss) AS s
            FROM {_shingle_cte("(SELECT doc_id, text FROM documents WHERE source = 'src2')", k)}
        ), hits AS (
            SELECT DISTINCT ce.doc_id FROM ce JOIN be USING (s)
        )
        SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    """


_QUALITY_FIELDS_SQL = """
                   CASE WHEN length(trim(text)) = 0 THEN 0.0
                        ELSE len(string_split_regex(trim(text), '\\s+')) * 1.0
                   END AS n_tok,
                   CASE WHEN length(text) > 0 THEN
                        (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                        / length(text)
                   ELSE 0.0 END AS punct_ratio,
                   CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0 THEN
                        len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                       'that','for','on','with','as','at','by','this','be'))) * 1.0
                        / len(string_split_regex(trim(lower(text)), '\\s+'))
                   ELSE 0.0 END AS sw_ratio"""

_QUALITY_SCORE_SQL = """(least(n_tok / 100.0, 1.0)
                          + (1.0 - least(punct_ratio * 5.0, 1.0))
                          + least(sw_ratio * 4.0, 1.0)) / 3.0"""


def _curation_pipeline_oracle_sql(k: int = 5, min_q: float = 0.55) -> str:
    """DuckDB oracle for q_curation_pipeline: the composed exact-dedup
    -> decontaminate -> quality-filter chain, each stage the SQL twin
    of the operator it mirrors."""
    return f"""
        WITH corpus AS (
            SELECT doc_id, source, text FROM documents WHERE source <> 'src2'
        ), ded AS (
            SELECT doc_id, source, text
            FROM (SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep
                  FROM corpus)
            WHERE doc_id = keep
        ), ce AS (
            SELECT doc_id, unnest(ss) AS s
            FROM {_shingle_cte("ded", k)}
        ), be AS (
            SELECT DISTINCT unnest(ss) AS s
            FROM {_shingle_cte("(SELECT doc_id, text FROM documents WHERE source = 'src2')", k)}
        ), hits AS (
            SELECT DISTINCT ce.doc_id FROM ce JOIN be USING (s)
        ), clean AS (
            SELECT d.* FROM ded d LEFT JOIN hits h ON h.doc_id = d.doc_id
            WHERE h.doc_id IS NULL
        ), f AS (
            SELECT doc_id, source,{_QUALITY_FIELDS_SQL}
            FROM clean
        ), scored AS (
            SELECT source, CAST(n_tok AS BIGINT) AS nt,
                   {_QUALITY_SCORE_SQL} AS qv
            FROM f
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               round(avg(qv), 6) AS avg_q
        FROM scored WHERE qv >= {min_q} GROUP BY source
    """


_NLP_LABELS = ["shipping update", "cooking recipe"]


def _nlp_classify_oracle_sql(dim: int = 64) -> str:
    """DuckDB oracle for q_nlp_classify: docs AND candidate labels both
    embedded with the SQL-reproduced encoder, argmax over cosine (the
    softmax in the task is monotone, so the predicted label is the
    cosine argmax; ties break to the first label like np.argmax)."""
    labs = ", ".join(
        f"({i}, '{label}')" for i, label in enumerate(_NLP_LABELS)
    )
    demb = _md5_emb_ctes("d_", "(SELECT doc_id, text FROM documents)", "doc_id", dim)
    lemb = _md5_emb_ctes("l_", "labs", "lab_id", dim)
    return f"""
        WITH labs AS (
            SELECT * FROM (VALUES {labs}) AS t(lab_id, text)
        ), {demb}, {lemb}, scored AS (
            SELECT d.doc_id, l.lab_id,
                   COALESCE(
                       list_dot_product(d.e::DOUBLE[], l.e::DOUBLE[])
                       / (sqrt(list_dot_product(d.e::DOUBLE[], d.e::DOUBLE[]))
                          * sqrt(list_dot_product(l.e::DOUBLE[], l.e::DOUBLE[]))),
                       0.0) AS cos
            FROM d_emb d CROSS JOIN l_emb l
        ), ranked AS (
            SELECT doc_id, lab_id,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cos DESC, lab_id ASC) AS rn
            FROM scored
        )
        SELECT r.doc_id, t.text AS label
        FROM ranked r JOIN labs t ON t.lab_id = r.lab_id
        WHERE r.rn = 1
    """


def _multimodal_md5_oracle_sql(n: int = 4096) -> str:
    """DuckDB oracle for q_multimodal_pipeline_md5: sha256-hex blob ->
    md5-seeded 64-bit LCG waveform (HUGEINT multiply-mod, bit-identical
    to the numpy uint64 arithmetic) -> rms/zcr/peak with the same
    float32 storage rounding the Arrow schema applies."""
    return f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(sha256(CAST(doc_id AS VARCHAR)) AS BLOB) AS data
            FROM documents WHERE doc_id < 200
        ), s AS (
            SELECT doc_id, octet_length(data) AS dl,
                   CAST(('0x' || substr(md5(lower(hex(data))), 1, 16))
                        AS UBIGINT) AS seed
            FROM d
        ), pcm AS (
            SELECT doc_id, dl,
                   list_transform(generate_series(0, {n - 1}),
                       i -> CAST(CAST(((CAST(seed AS HUGEINT) + i)
                                       * 6364136223846793005
                                       + 1442695040888963407)
                                      % 18446744073709551616 AS UBIGINT)
                                 >> 11 AS DOUBLE)
                            / 9007199254740992.0 * 2.0 - 1.0) AS p
            FROM s
        )
        SELECT doc_id,
               CAST(dl AS BIGINT) AS data_len,
               round(CAST(CAST(sqrt(list_sum(list_transform(p, x -> x * x))
                                    / {n}) AS FLOAT) AS DOUBLE), 6) AS rms,
               round(CAST(CAST(list_sum(list_transform(
                         generate_series(1, {n - 1}),
                         i -> CASE WHEN sign(p[i]) <> sign(p[i + 1])
                                   THEN 1.0 ELSE 0.0 END)) / {n - 1}
                     AS FLOAT) AS DOUBLE), 6) AS zcr,
               round(CAST(CAST(list_aggregate(list_transform(p, x -> abs(x)),
                                              'max') AS FLOAT) AS DOUBLE), 6)
                   AS peak
        FROM pcm
    """


def _ann_ivf_quantized_oracle_sql(
    n_cells: int = 8, nprobe: int = 3, k: int = 10, rerank_factor: int = 4
) -> str:
    """DuckDB oracle for q_ann_ivf_quantized_seeded: seed centroids =
    the n_cells lowest-id vectors; cell assign + probe ranking by L2
    (ties to the lowest cell id, matching nearest_cell's strict-less
    scan); int8 quantize with the double scale, dequantize as exact
    float32 products; approximate top-(k*rerank) then exact rerank."""
    l2 = (
        "list_sum(list_transform(generate_series(1, len({a})), "
        "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )
    cos = (
        "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) "
        "/ (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) "
        "* sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )
    return f"""
        WITH cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                   embedding AS ce
            FROM embeddings ORDER BY vec_id LIMIT {n_cells}
        ), q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = 1
        ), probe AS (
            SELECT cid FROM cents, q
            ORDER BY {l2.format(a="ce", b="qv")} ASC, cid ASC
            LIMIT {nprobe}
        ), assigned AS (
            SELECT vec_id, embedding, cid AS cell
            FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {l2.format(a="e.embedding", b="c.ce")} ASC,
                                    c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cents c
            ) WHERE rn = 1
        ), store AS (
            SELECT vec_id, embedding,
                   CASE WHEN m > 0 THEN CAST(m AS DOUBLE) / 127.0
                        ELSE 1.0 END AS scale_d
            FROM (
                SELECT a.vec_id, a.embedding,
                       list_aggregate(list_transform(a.embedding,
                                                     x -> abs(x)), 'max') AS m
                FROM assigned a
                WHERE a.cell IN (SELECT cid FROM probe)
            )
        ), deq AS (
            SELECT vec_id, embedding,
                   list_transform(embedding,
                       x -> CAST(CAST(CAST(round(CAST(x AS DOUBLE) / scale_d)
                                           AS TINYINT) AS DOUBLE)
                                 * CAST(CAST(scale_d AS FLOAT) AS DOUBLE)
                                 AS FLOAT)) AS dv
            FROM store
        ), approx AS (
            SELECT d.vec_id, d.embedding,
                   {cos.format(a="d.dv", b="qv")} AS acos
            FROM deq d, q
            ORDER BY acos DESC, d.vec_id ASC
            LIMIT {max(k * rerank_factor, k)}
        )
        SELECT a.vec_id AS id,
               round({cos.format(a="a.embedding", b="qv")}, 6) AS cos
        FROM approx a, q
        ORDER BY {cos.format(a="a.embedding", b="qv")} DESC, a.vec_id ASC
        LIMIT {k}
    """


def _near_dup_components_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.6
) -> str:
    """DuckDB oracle for q_near_dup_components_md5: the portable MinHash
    pair pipeline closed into connected components with a recursive CTE
    (label of a node = min reachable node id — algorithm-independent, so
    it checks Spark's large-star/small-star contraction exactly)."""
    ctes, matches = _minhash_cand_ctes(num_hashes, bands, k)
    return f"""
        WITH RECURSIVE {ctes}, p AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN sig a ON a.doc_id = c.id_a
            JOIN sig bb ON bb.doc_id = c.id_b
            WHERE ({matches}) / {float(num_hashes)} >= {threshold}
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM p
            UNION
            SELECT id_b AS a, id_a AS b FROM p
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
        )
        SELECT node AS doc_id, min(r) AS component
        FROM reach GROUP BY node
    """


def _simhash_tok_cte(k: int, where: str = "") -> str:
    """Shared token/shingle/hash CTE prefix for the SimHash oracles
    (identical tokenize -> k-shingle -> md5 64-bit pattern pipeline)."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents {where}
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= {k} THEN
                            [array_to_string(l[i:i+{k - 1}], ' ')
                             for i in generate_series(1, len(l) - {k - 1})]
                        WHEN len(l) > 0 THEN [array_to_string(l, ' ')]
                        ELSE [] END AS ss
            FROM toks
        ), e AS (
            SELECT DISTINCT doc_id, s
            FROM (SELECT doc_id, unnest(ss) AS s FROM sh)
        ), h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 16))::UBIGINT AS u
            FROM e
        ), v AS (
            SELECT doc_id,
                   {",".join(f"sum(CASE WHEN (u >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(64))}
            FROM h GROUP BY doc_id
        ), f AS (
            SELECT doc_id,
                   ({" + ".join(f"(CASE WHEN b{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(64))}) AS fpu
            FROM v
        ), fp AS (
            SELECT doc_id,
                   (CASE WHEN fpu >= 9223372036854775808 THEN
                         fpu - 18446744073709551616 ELSE fpu END)::BIGINT AS s64,
                   fpu::UBIGINT AS u64
            FROM f
        )"""


def _simhash_oracle_sql(k: int = 2, id_limit: int = 100) -> str:
    """DuckDB oracle for q_simhash_md5: the md5-portable fingerprint."""
    return (
        _simhash_tok_cte(k, f"WHERE doc_id < {id_limit}")
        + "\n        SELECT doc_id, s64 AS simhash FROM fp"
    )


def _simhash_pairs_oracle_sql(k: int = 2, max_hamming: int = 3) -> str:
    """DuckDB oracle for q_simhash_near_dup_md5: pigeonhole banding on
    the portable fingerprint, hamming verify via bit_count(xor)."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1
    bandrows = "\n            UNION ALL ".join(
        f"SELECT doc_id, {b} AS b, (u64 >> {b * width}) & {mask} AS bits, s64 FROM fp"
        for b in range(n_bands)
    )
    return (
        _simhash_tok_cte(k)
        + f""", bandrows AS (
            {bandrows}
        )
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
               bit_count(xor(l.s64, r.s64)) AS hamming
        FROM bandrows l JOIN bandrows r
          ON l.b = r.b AND l.bits = r.bits AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.s64, r.s64)) <= {max_hamming}
    """
    )


def _ivf_oracle_sql(n_cells: int = 8, nprobe: int = 3, k: int = 10) -> str:
    """DuckDB oracle for q_ann_ivf: seed centroids = the ``n_cells``
    lowest-id vectors (mirrors ivf_index(seed_strategy='first',
    max_iter=0)), argmin cell assignment, nprobe nearest-cell pruning,
    exact cosine top-k — the identical approximate pipeline in SQL."""
    return f"""
        WITH cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                   embedding::DOUBLE[] AS cv
            FROM embeddings ORDER BY vec_id LIMIT {n_cells}
        ), q AS (
            SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                                    c.cell) AS rn
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rn = 1
        ), probe AS (
            SELECT c.cell FROM cent c, q
            ORDER BY list_distance(q.qv, c.cv), c.cell LIMIT {nprobe}
        )
        SELECT a.vec_id,
               round(list_dot_product(a.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
        FROM assigned a, q
        WHERE a.cell IN (SELECT cell FROM probe)
        ORDER BY list_dot_product(a.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC, a.vec_id ASC
        LIMIT {k}
    """


def _embed_dedup_oracle_sql(
    n_planes: int = 8, dim: int = 64, threshold: float = 0.95
) -> str:
    """DuckDB oracle for q_embed_dedup: identical LCG hyperplane
    signatures, same-bucket pair join, cosine >= threshold drops the
    higher id; survivors counted per label."""
    sig_terms = _sig_terms_sql(n_planes, dim)
    return f"""
        WITH s AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   ({sig_terms})::BIGINT AS sig
            FROM embeddings
        ), drops AS (
            SELECT DISTINCT r.vec_id AS did
            FROM s l JOIN s r ON l.sig = r.sig AND l.vec_id < r.vec_id
            WHERE list_dot_product(l.v, r.v)
                  / (sqrt(list_dot_product(l.v, l.v))
                     * sqrt(list_dot_product(r.v, r.v))) >= {threshold}
        )
        SELECT label, count(*) AS n_kept
        FROM s WHERE vec_id NOT IN (SELECT did FROM drops)
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# §2.13 — ML surface (tree inference, LTR feature logging, embeddings)
# + multimodal column plumbing
# ---------------------------------------------------------------------------

def _fixed_ensemble():
    """Deterministic 2-tree regression ensemble over (l_quantity,
    l_discount) — the oracle re-expresses the identical trees as nested
    CASE WHEN, so the broadcast pandas-UDF scorer is hash-checked against
    DuckDB (reference tree IR: eland/ml/_model_serializer.py:26-178)."""
    from eland_spark.ml.tree_ir import Ensemble, Tree, TreeNode

    t1 = Tree(feature_names=["l_quantity", "l_discount"], nodes=[
        TreeNode(0, split_feature=0, threshold=25.0, left_child=1, right_child=2),
        TreeNode(1, leaf_value=[1.5]),
        TreeNode(2, split_feature=1, threshold=0.05, left_child=3, right_child=4),
        TreeNode(3, leaf_value=[2.5]),
        TreeNode(4, leaf_value=[4.0]),
    ])
    t2 = Tree(feature_names=["l_quantity", "l_discount"], nodes=[
        TreeNode(0, split_feature=1, threshold=0.03, left_child=1, right_child=2),
        TreeNode(1, leaf_value=[0.5]),
        TreeNode(2, split_feature=0, threshold=40.0, left_child=3, right_child=4),
        TreeNode(3, leaf_value=[1.0]),
        TreeNode(4, leaf_value=[2.0]),
    ])
    return Ensemble(
        feature_names=["l_quantity", "l_discount"],
        trees=[t1, t2],
        weights=[0.7, 0.3],
        base_score=0.1,
    )


def q_ml_tree_score(spark, sf_dir) -> DataFrame:
    """Tree-ensemble inference (broadcast model + Arrow pandas UDF),
    aggregated per return flag so the output is small and hashable."""
    from eland_spark.ml.inference import score_columns

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    scored = score_columns(li.to_spark(), _fixed_ensemble(), out_col="pred")
    return scored.groupBy("l_returnflag").agg(
        F.round(F.avg("pred"), 6).alias("avg_pred"),
        F.round(F.sum("pred"), 2).alias("sum_pred"),
        F.count(F.lit(1)).alias("n"),
    )


def q_ltr_features(spark, sf_dir) -> DataFrame:
    """LTR feature logging: judgment-list filter + expression-template
    features (reference eland/ml/ltr/feature_logger.py:30-163)."""
    from eland_spark.ml.ltr import FeatureLogger, LTRModelConfig, QueryFeatureExtractor

    config = LTRModelConfig([
        QueryFeatureExtractor(
            "term_count", "size(regexp_extract_all(lower(text), {term}, 0))"
        ),
        QueryFeatureExtractor("len_chars", "length(text)"),
        QueryFeatureExtractor(
            "has_term",
            "CASE WHEN contains(lower(text), {term}) THEN 1.0 ELSE NULL END",
            default_score=0.0,
        ),
    ])
    docs = _t(spark, sf_dir, "documents", "doc_id")
    logger = FeatureLogger(docs.to_spark(), "doc_id", config)
    return logger.extract_features({"term": "the"}, doc_ids=list(range(25)))


def q_multimodal_meta(spark, sf_dir) -> DataFrame:
    """Multimodal column plumbing: binary media struct + mapInPandas
    decode (stub kernel). Metadata and shape columns are deterministic,
    so the oracle checks the whole pipeline wiring."""
    from eland_spark.operators.multimodal import attach_fake_media, decode_image_features

    docs = _t(spark, sf_dir, "documents", "doc_id")
    with_media = attach_fake_media(docs.to_spark().select("doc_id"), "doc_id")
    decoded = decode_image_features(with_media)
    return decoded.select(
        F.col("doc_id"),
        F.col("media.width").cast("long").alias("width"),
        F.col("media.height").cast("long").alias("height"),
        F.length(F.col("media.data")).cast("long").alias("data_len"),
        F.size(F.col("img_features")).cast("long").alias("n_features"),
    )


def q_explode_embeddings(spark, sf_dir) -> DataFrame:
    """Multi-valued column accessor (frame.explode; SURVEY §1.3 — the
    reference's list-in-cell fields are real ArrayType columns here)."""
    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    ex = emb.explode("embedding")
    return ex.to_spark().groupBy("label").agg(
        F.count(F.lit(1)).alias("n_elems"),
        F.round(F.sum("embedding"), 2).alias("sum_elems"),
    )


def q_salted_join(spark, sf_dir) -> DataFrame:
    """Skew-mitigated join (operators/skew.salted_join): hot keys fan
    out over 16 salt buckets; result must equal the plain join, so the
    plain-SQL oracle gates correctness of the salting rewrite."""
    from eland_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    orders = _t(spark, sf_dir, "orders", "o_orderkey").to_spark().select(
        "o_orderkey", "o_orderstatus"
    )
    j = salted_join(
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        orders,
        on="o_orderkey",
        salt=16,
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


def q_two_phase_distinct(spark, sf_dir) -> DataFrame:
    """Skew-safe exact count(DISTINCT) (operators/skew): dedup shuffle
    spreads by value hash, then a tiny per-key count — the standard
    rewrite for distinct-count over hot keys; the plain SQL oracle
    gates it."""
    from eland_spark.operators.skew import two_phase_count_distinct

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    out = two_phase_count_distinct(li, ["l_returnflag"], "l_partkey")
    return out.select("l_returnflag", F.col("n_distinct").alias("n_parts"))


def q_tfidf_topk(spark, sf_dir) -> DataFrame:
    """Per-document top-3 TF-IDF terms (operators/text.tfidf_top_terms):
    two shuffles (doc-term tf, per-doc rank window), df table broadcast
    back — corpus-scale text weighting without a Python step."""
    from eland_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents", "doc_id")
    out = tfidf_top_terms(docs.to_spark(), F.col("text"), F.col("doc_id"), k=3)
    return out.select(
        "doc_id", "term", "tf", "score", F.col("rnk").cast("long").alias("rnk")
    )


def q_bm25_topk(spark, sf_dir) -> DataFrame:
    """BM25 ranked retrieval (operators/text.bm25_topk): the ranking
    half of the reference's es_match (eland/dataframe.py es_match
    filters; Elasticsearch scores those matches with Okapi BM25 —
    Lucene BM25Similarity). One scalar stats pass (N, avgdl, per-term
    df — mergeable partials, no explode), then a map-only score pass
    ending in TakeOrderedAndProject: zero exchanges of row data at any
    corpus size."""
    from eland_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents", "doc_id")
    return bm25_topk(
        docs.to_spark(), "text", "doc_id", "spark window agg", k=10
    )


def q_multimodal_pipeline(spark, sf_dir) -> DataFrame:
    """Resize + audio-feature stages composed after attach (rows-only:
    stub kernels are deterministic but not SQL-expressible). Exercises
    mapInPandas schema-preserving resize and the audio mime gate."""
    from eland_spark.operators.multimodal import (
        attach_fake_media,
        extract_audio_features,
        resize_images,
    )

    docs = _t(spark, sf_dir, "documents", "doc_id")
    with_media = attach_fake_media(
        docs.to_spark().select("doc_id").filter(F.col("doc_id") < 200), "doc_id"
    )
    resized = resize_images(with_media, 8, 8)
    audio = extract_audio_features(
        resized.withColumn(
            "media",
            F.struct(
                F.col("media.data").alias("data"),
                F.lit("audio/fake").alias("mime"),
                F.col("media.width").alias("width"),
                F.col("media.height").alias("height"),
                F.col("media.n_frames").alias("n_frames"),
            ),
        )
    )
    return audio.select(
        "doc_id",
        F.length("media.data").cast("long").alias("data_len"),
        F.round(F.element_at("audio_features", 1), 6).alias("rms"),
        F.round(F.element_at("audio_features", 2), 6).alias("zcr"),
    )


def q_multimodal_pipeline_md5(spark, sf_dir) -> DataFrame:
    """Portable twin of multimodal_pipeline: the fake-PCM kernel
    switches to a 64-bit LCG (multimodal._pcm_stub_portable), so the
    ENTIRE binary-media chain — sha256 blob attach, mime gate,
    mapInPandas batch plumbing, rms/zcr/peak extraction — is replayed
    bit-for-bit by the DuckDB oracle (HUGEINT multiply-mod LCG). The
    RNG-based stub stays the default in multimodal_pipeline
    (rows-only)."""
    from eland_spark.operators.multimodal import (
        attach_fake_media,
        extract_audio_features,
    )

    docs = _t(spark, sf_dir, "documents", "doc_id")
    with_media = attach_fake_media(
        docs.to_spark().select("doc_id").filter(F.col("doc_id") < 200), "doc_id"
    )
    audio = extract_audio_features(
        with_media.withColumn(
            "media",
            F.struct(
                F.col("media.data").alias("data"),
                F.lit("audio/fake").alias("mime"),
                F.col("media.width").alias("width"),
                F.col("media.height").alias("height"),
                F.col("media.n_frames").alias("n_frames"),
            ),
        ),
        portable=True,
    )
    return audio.select(
        "doc_id",
        F.length("media.data").cast("long").alias("data_len"),
        F.round(F.element_at("audio_features", 1).cast("double"), 6).alias("rms"),
        F.round(F.element_at("audio_features", 2).cast("double"), 6).alias("zcr"),
        F.round(F.element_at("audio_features", 3).cast("double"), 6).alias("peak"),
    )


def q_nlp_expansion(spark, sf_dir) -> DataFrame:
    """text_expansion NLP task (SPLADE-shaped sparse token->weight map,
    ml/pytorch.py no-torch stand-in): per-doc top-5 terms with
    ln(1+tf) weights through the real mapInPandas task plumbing; the
    map explodes to rows so DuckDB hash-checks the whole task output.
    Reference task registry: eland/ml/pytorch/transformers.py:71-131."""
    from eland_spark.ml.pytorch import TransformerModel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = TransformerModel("standin", "text_expansion", top_k=5).apply(docs, "text")
    exploded = out.select("doc_id", F.explode("prediction"))
    return exploded.select(
        "doc_id",
        F.col("key").alias("term"),
        F.round("value", 6).alias("weight"),
    )


def q_nlp_classify(spark, sf_dir) -> DataFrame:
    """zero_shot_classification NLP task (ml/pytorch.py no-torch
    bi-encoder stand-in) with a FULL SQL oracle: both the documents and
    the candidate labels go through the md5 bag-of-words encoder, and
    the predicted label is the cosine argmax (softmax is monotone) —
    DuckDB replays the whole decision. Reference task registry:
    eland/ml/pytorch/transformers.py:71-131."""
    from eland_spark.ml.pytorch import TransformerModel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = TransformerModel(
        "standin", "zero_shot_classification", labels=list(_NLP_LABELS)
    ).apply(docs, "text")
    return out.select(
        "doc_id", F.col("prediction.predicted_value").alias("label")
    )


def q_embed_topk(spark, sf_dir) -> DataFrame:
    """Text-embedding operator + cosine top-k, hash-checked end-to-end:
    the stand-in encoder is md5 bag-of-words (ml/embeddings.py), so
    DuckDB reproduces the embeddings BIT-FOR-BIT (hex-prefix UBIGINT
    buckets, double-normalize, FLOAT cast) and the full embed->ANN
    pipeline gets a SQL oracle. Reference text_embedding task,
    eland/ml/pytorch/transformers.py task registry."""
    from eland_spark.frame import DataFrame as EDF
    from eland_spark.ml.embeddings import embed_text
    from eland_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents", "doc_id")
    sub = docs.to_spark().filter(F.col("source") == "src0").select("doc_id", "text")
    emb = embed_text(sub, "text", "embedding", dim=64)
    qrow = emb.filter(F.col("doc_id") == emb.agg(F.min("doc_id")).collect()[0][0])
    qvec = [float(x) for x in qrow.select("embedding").collect()[0][0]]
    out = cosine_topk(EDF(emb, index_cols=("doc_id",)), qvec, k=5, id_col="doc_id")
    sdf = out[["doc_id", "__cos__"]].to_spark()
    return sdf.select("doc_id", F.round(F.col("__cos__"), 6).alias("cos_sim"))


def q_skew_kurt(spark, sf_dir) -> DataFrame:
    """Per-group sample-adjusted skewness/kurtosis + log-product, using
    the PRODUCTION agg lambdas (frame._AGG_EXPRS — the same expressions
    GroupBy.skew/kurt/prod compile to). DuckDB's skewness/kurtosis are
    the identical sample-corrected G1/G2; the product is compared in
    log10 space so fp association order can't shift the rounded hash."""
    from eland_spark.frame import DataFrame as EDF

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    q = F.col("l_quantity")
    return (
        li.to_spark()
        .groupBy("l_returnflag")
        .agg(
            F.round(EDF._AGG_EXPRS["skew"](q), 6).alias("skew_qty"),
            F.round(EDF._AGG_EXPRS["kurt"](q), 6).alias("kurt_qty"),
            F.round(EDF._AGG_EXPRS["skew"](F.col("l_discount")), 6).alias("skew_disc"),
            F.round(
                F.log10(EDF._AGG_EXPRS["prod"](1 + F.col("l_discount"))), 4
            ).alias("log_prod_disc"),
        )
        .orderBy("l_returnflag")
    )


def q_any_all(spark, sf_dir) -> DataFrame:
    """Per-group truthiness OR/AND via the production any/all lambdas
    (bool_or/bool_and over ``c != 0``, null-skipping, empty-group
    identities)."""
    from eland_spark.frame import DataFrame as EDF

    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    hi = (F.col("o_totalprice") > 400000).cast("int")
    lo = (F.col("o_totalprice") > 1000).cast("int")
    return (
        orders.to_spark()
        .groupBy("o_orderpriority")
        .agg(
            EDF._AGG_EXPRS["any"](hi).alias("any_hi"),
            EDF._AGG_EXPRS["all"](lo).alias("all_lo"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


def q_groupby_diff(spark, sf_dir) -> DataFrame:
    """pandas groupby().diff() through the LIBRARY surface: per-group
    value minus the previous row's (index order) — one keyed window
    (hash shuffle on the group keys), lag never crosses groups."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_orderstatus", "o_totalprice"]].groupby("o_orderstatus").diff()
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("o_totalprice"), 2).alias("d_price")
    )


def q_groupby_pct_change(spark, sf_dir) -> DataFrame:
    """pandas groupby().pct_change() via the library: same one-window
    plan as diff, IEEE division (prev==0 -> inf, not an ANSI error)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = (
        o[["o_orderstatus", "o_totalprice"]].groupby("o_orderstatus").pct_change()
    )
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("o_totalprice"), 6).alias("pct_price")
    )


def q_groupby_ngroup(spark, sf_dir) -> DataFrame:
    """pandas groupby().ngroup(): group labels in sorted-key order.
    Scale shape: the DISTINCT keys (small) go through the windowless
    global-rank operator, then a key join labels the full data — the
    big side never crosses a single-partition window."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_orderstatus", "o_totalprice"]].groupby("o_orderstatus").ngroup()
    return out.to_spark().select("o_orderkey", "ngroup")


def q_groupby_ffill(spark, sf_dir) -> DataFrame:
    """pandas groupby().ffill(): forward-fill nulls within each group in
    index order — last(ignorenulls) over the keyed window's preceding
    frame; fills never leak across groups. DuckDB twin: last_value
    IGNORE NULLS."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    withgap = o.assign(
        gap=lambda d: d["o_totalprice"].where(d["o_totalprice"] > 150000)
    )
    out = withgap[["o_orderstatus", "gap"]].groupby("o_orderstatus").ffill()
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("gap"), 2).alias("gap_filled")
    )


def q_groupby_ohlc(spark, sf_dir) -> DataFrame:
    """pandas groupby().ohlc(): open/high/low/close per group in index
    order — ONE min_by/max_by + min/max aggregate pass (library surface
    GroupBy.ohlc; the per-group result re-enters a DataFrame for the
    driver contract)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    pdf = o[["o_orderpriority", "o_totalprice"]].groupby("o_orderpriority").ohlc()
    rows = [
        (str(k), round(float(r[0]), 2), round(float(r[1]), 2),
         round(float(r[2]), 2), round(float(r[3]), 2))
        for k, r in zip(pdf.index, pdf.to_numpy())
    ]
    return spark.createDataFrame(
        rows,
        "o_orderpriority string, open double, high double, low double, close double",
    )


def q_groupby_value_counts(spark, sf_dir) -> DataFrame:
    """pandas groupby().value_counts(): counts per (group key, value
    combo) — one hash shuffle with partial aggregation (library surface
    GroupBy.value_counts; small result re-enters a DataFrame)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    s = o[["o_orderstatus", "o_orderpriority"]].groupby("o_orderstatus").value_counts()
    rows = [
        (str(k[0]), str(k[1]), int(v)) for k, v in s.items()
    ]
    return spark.createDataFrame(
        rows, "o_orderstatus string, o_orderpriority string, n long"
    )


def q_groupby_ewm(spark, sf_dir) -> DataFrame:
    """pandas groupby().ewm(alpha=.5).mean() via the library
    (operators/windowed.ewm_mean_grouped): alpha=0.5's 54-wide kernel
    routes to the arrow engine — pandas' C ewm kernel per group on ONE
    applyInPandas riding the group shuffle (the keyed-window JVM-fold
    engine is auto-picked only for kernels <= 8 lags, where the O(W)
    per-row fold is cheaper than a Python boundary). The DuckDB twin
    replays the kernel truncated where weights drop below double
    precision as a bounded position self-join — identical to the full
    recursion at the rounded precision."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = (
        o[["o_orderstatus", "o_totalprice"]]
        .groupby("o_orderstatus")
        .ewm(alpha=0.5)
        .mean()
    )
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("o_totalprice_ewm"), 4).alias("ewm_price")
    )


def q_series_ewm(spark, sf_dir) -> DataFrame:
    """Global Series.ewm(span=20).mean() — bucket-overlap plan (no
    single-partition window); kernel width 369 for span=20. Same
    bounded self-join oracle, unpartitioned."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].ewm(span=20).mean()
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("ewm"), 4).alias("ewm_price")
    )


def q_ewm_std(spark, sf_dir) -> DataFrame:
    """Global Series.ewm(span=20).std() — the anomaly-band twin of
    series_ewm on the same truncated-kernel bucket-overlap plan;
    moments folded about the current row (shift-invariant variance,
    no large-mean cancellation), unbiased sw^2/(sw^2-sum w^2)
    correction. Same bounded self-join oracle."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].ewm(span=20).std()
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("ewm_std"), 4).alias("ewm_std_price")
    )


def _ewm_std_oracle_sql() -> str:
    return """
        WITH p AS (
            SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v,
                   row_number() OVER (ORDER BY o_orderkey) AS rn
            FROM orders
        ), j AS (
            SELECT a.o_orderkey,
                   sum(power(1.0 - 2.0/21.0, a.rn - b.rn)) AS sw,
                   sum(power(1.0 - 2.0/21.0, 2 * (a.rn - b.rn))) AS sw2,
                   sum(b.v * power(1.0 - 2.0/21.0, a.rn - b.rn)) AS swx,
                   sum(b.v * b.v
                       * power(1.0 - 2.0/21.0, a.rn - b.rn)) AS swxx,
                   count(*) AS cnt
            FROM p a JOIN p b ON b.rn BETWEEN a.rn - 369 AND a.rn
            GROUP BY a.o_orderkey
        )
        SELECT o_orderkey,
               round(CASE WHEN cnt >= 2 AND sw * sw - sw2 > 0
                          THEN sqrt(greatest(swxx / sw
                                             - (swx / sw) * (swx / sw),
                                             0.0)
                                    * sw * sw / (sw * sw - sw2)) END, 4)
                   AS ewm_std_price
        FROM j
    """


def q_groupby_ewm_std(spark, sf_dir) -> DataFrame:
    """groupby().ewm(span=10).std() — per-group exponentially weighted
    std (pandas C kernel per group via ONE Arrow applyInPandas on the
    group shuffle; span=10's 184-wide kernel picks the arrow engine).
    Oracle: per-group bounded self-join weighted-moment replay (lags
    past 400 carry weight < 2e-35 — below double noise)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_orderstatus", "o_totalprice"]].groupby(
        "o_orderstatus"
    ).ewm(span=10, min_periods=2).std()
    return out.to_spark().select(
        "o_orderkey",
        F.round(F.col("o_totalprice_ewm_std"), 4).alias("ewm_std_price"),
    )


def _groupby_ewm_std_oracle_sql() -> str:
    return """
        WITH p AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS v,
                   row_number() OVER (
                       PARTITION BY o_orderstatus ORDER BY o_orderkey
                   ) AS rn
            FROM orders
        ), j AS (
            SELECT a.o_orderkey,
                   sum(power(1.0 - 2.0/11.0, a.rn - b.rn)) AS sw,
                   sum(power(1.0 - 2.0/11.0, 2 * (a.rn - b.rn))) AS sw2,
                   sum(b.v * power(1.0 - 2.0/11.0, a.rn - b.rn)) AS swx,
                   sum(b.v * b.v
                       * power(1.0 - 2.0/11.0, a.rn - b.rn)) AS swxx,
                   count(*) AS cnt
            FROM p a JOIN p b
              ON a.o_orderstatus = b.o_orderstatus
             AND b.rn BETWEEN a.rn - 400 AND a.rn
            GROUP BY a.o_orderkey
        )
        SELECT o_orderkey,
               round(CASE WHEN cnt >= 2 AND sw * sw - sw2 > 0
                          THEN sqrt(greatest(swxx / sw
                                             - (swx / sw) * (swx / sw),
                                             0.0)
                                    * sw * sw / (sw * sw - sw2)) END, 4)
                   AS ewm_std_price
        FROM j
    """


def q_groupby_ewm_wide(spark, sf_dir) -> DataFrame:
    """groupby().ewm(span=50).mean() — the WIDE-kernel grouped ewm
    (921 lags before weights drop below double precision; span=50's
    alpha is 2/51). Exercises the slow-decay class that hid the r5
    global-ewm cliff: the arrow engine runs pandas' C kernel per group
    on one applyInPandas (O(1) per row), so this must bench within ~2x
    of the short-span groupby_ewm — a JVM HOF fold here would be
    O(921) interpreted steps per row. Oracle: bounded self-join replay
    capped at 1000 lags (weight < 5e-18 past the kernel width —
    invisible at the rounded precision)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = (
        o[["o_orderstatus", "o_totalprice"]]
        .groupby("o_orderstatus")
        .ewm(span=50, min_periods=2)
        .mean()
    )
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("o_totalprice_ewm"), 4).alias("ewm_price")
    )


def _groupby_ewm_wide_oracle_sql() -> str:
    return """
        WITH p AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS v,
                   row_number() OVER (
                       PARTITION BY o_orderstatus ORDER BY o_orderkey
                   ) AS rn
            FROM orders
        ), j AS (
            SELECT a.o_orderkey,
                   sum(b.v * power(1.0 - 2.0/51.0, a.rn - b.rn)) AS swx,
                   sum(power(1.0 - 2.0/51.0, a.rn - b.rn)) AS sw,
                   count(*) AS cnt
            FROM p a JOIN p b
              ON a.o_orderstatus = b.o_orderstatus
             AND b.rn BETWEEN a.rn - 1000 AND a.rn
            GROUP BY a.o_orderkey
        )
        SELECT o_orderkey,
               round(CASE WHEN cnt >= 2 THEN swx / sw END, 4) AS ewm_price
        FROM j
    """


def q_semantic_dedup(spark, sf_dir) -> DataFrame:
    """SemDeDup-style semantic dedup (cluster embeddings, drop
    within-cluster cosine>=t duplicates keeping the lowest id), on
    engine-agnostic seed centroids (8 lowest-id vectors, no Lloyd) so
    the ENTIRE assign->pair->drop pipeline replays in SQL. Survivor
    counts per label are the hash-checked result."""
    from eland_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    kept = semantic_dedup(
        emb, threshold=0.9, n_cells=48, max_iter=0, seed_strategy="first"
    )
    return (
        kept.to_spark()
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("vec_id").alias("min_id"))
        .orderBy("label")
    )


def q_url_curation(spark, sf_dir) -> DataFrame:
    """URL canonicalization + per-domain dedup stats (web-corpus
    curation): deterministic URLs derived from documents (case/port/
    trailing-slash/tracking-param variants baked in), canonicalized via
    operators/urls.canonical_url (regex chain, zero shuffle), exact
    URL-dedup keep-first, then registrable-domain counts. The oracle
    builds the identical URLs and replays the same canonicalization in
    SQL."""
    from eland_spark.frame import DataFrame as EDF
    from eland_spark.operators.urls import dedup_by_url, with_url_columns

    docs = _t(spark, sf_dir, "documents", "doc_id")
    d = F.col("doc_id")
    host = F.concat(
        F.lit("www."), F.col("source"),
        F.when(d % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
    )
    host = F.when(d % 7 == 0, F.upper(host)).otherwise(host)
    url = F.concat(
        F.lit("https://"), host,
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/doc/"), (d % 50).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), (d % 50).cast("string")))
        .when(d % 4 == 1, F.concat(F.lit("?id="), (d % 50).cast("string")))
        .otherwise(F.lit("")),
    )
    base = EDF(
        docs.to_spark().select("doc_id", url.alias("url")), index_cols=("doc_id",)
    )
    kept = dedup_by_url(base, "url")
    out = with_url_columns(kept, "url")
    return (
        out.to_spark()
        .groupBy("url_domain")
        .agg(F.count(F.lit(1)).alias("n_urls"), F.min("doc_id").alias("min_doc"))
        .orderBy("url_domain")
    )


def q_str_methods(spark, sf_dir) -> DataFrame:
    """String-accessor batch 2 through the LIBRARY surface
    (Series.str.capitalize/swapcase/find/rfind/fullmatch/removeprefix/
    get/count/istitle) — all single-pass JVM string expressions, zero
    shuffle before the output projection; DuckDB replays each with its
    own built-ins."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    s = docs["source"]
    t = docs["text"]
    out = docs.assign(
        cap=s.str.capitalize(),
        swapped=s.str.swapcase(),
        f_rc=s.str.find("rc"),
        rf_c=s.str.rfind("c"),
        is_src=s.str.fullmatch("src[0-9]+"),
        bare=s.str.removeprefix("src"),
        last_ch=s.str.get(-1),
        n_a=t.str.count("a"),
        titled=t.str.slice(0, 12).str.istitle(),
    )
    return out[
        ["cap", "swapped", "f_rc", "rf_c", "is_src", "bare", "last_ch", "n_a", "titled"]
    ].to_spark().select(
        "doc_id", "cap", "swapped", "f_rc", "rf_c", "is_src", "bare", "last_ch",
        "n_a", "titled",
    )


def q_frame_order_ops(spark, sf_dir) -> DataFrame:
    """Frame-wide global-order ops through the library surface:
    DataFrame.diff + cumsum over the index order. Scale shape: diff =
    one rank pass + one position self-join carrying every column;
    cumsum = the windowless bucket plan, all columns in one exchange.
    DuckDB twin: lag + running-sum windows."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    num = o[["o_totalprice", "o_custkey"]]
    d = num.diff().to_spark().select(
        "o_orderkey", F.round(F.col("o_totalprice"), 2).alias("d_price")
    )
    c = num.cumsum().to_spark().select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 2).alias("cum_price"),
        F.col("o_custkey").cast("long").alias("cum_cust"),
    )
    return d.join(c, "o_orderkey")


def q_frame_ffill(spark, sf_dir) -> DataFrame:
    """DataFrame.ffill over the GLOBAL index order — last-non-null as a
    running semigroup through the bucket plan (one balanced exchange,
    driver prefix-carry); no single-partition window. DuckDB twin:
    last_value IGNORE NULLS over the global order."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    withgap = o.assign(
        gap=lambda d: d["o_totalprice"].where(d["o_totalprice"] > 300000)
    )
    out = withgap[["gap"]].ffill()
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("gap"), 2).alias("gap_filled")
    )


def q_temperature_mixture(spark, sf_dir) -> DataFrame:
    """Temperature-based mixture sampling (UniMax-style corpus
    rebalancing): per-source keep-rates from n_i^alpha proportions,
    applied with the engine-agnostic md5 threshold — counts -> rates ->
    filter all replayed in SQL. One count agg + a zero-shuffle
    filter."""
    from eland_spark.operators.sampling import sample_by_temperature

    docs = _t(spark, sf_dir, "documents", "doc_id")
    out = sample_by_temperature(
        docs.to_spark(), "source", "doc_id", target_rows=600, alpha=0.5
    )
    return out.select("doc_id", "source")


def q_frame_compare(spark, sf_dir) -> DataFrame:
    """DataFrame.compare through the library: one index-equi-join,
    null-safe cell equality, differing rows with self/other pairs."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    a = o[["o_totalprice", "o_orderstatus"]]
    b = o.assign(
        o_totalprice=lambda d: d["o_totalprice"].where(
            d["o_totalprice"] < 400000, d["o_totalprice"] * 2
        )
    )[["o_totalprice", "o_orderstatus"]]
    out = a.compare(b)
    return out.to_spark().select(
        "o_orderkey",
        F.round(F.col("o_totalprice_self"), 2).alias("price_self"),
        F.round(F.col("o_totalprice_other"), 2).alias("price_other"),
    )


def q_combine_first(spark, sf_dir) -> DataFrame:
    """DataFrame.combine_first: one full-outer index join + per-column
    coalesce (pandas null-patching)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    holes = o.assign(
        gap=lambda d: d["o_totalprice"].where(d["o_totalprice"] > 200000)
    )[["gap"]]
    fallback = o.assign(gap=lambda d: d["o_totalprice"] * 0)[["gap"]]
    out = holes.combine_first(fallback)
    return out.to_spark().select(
        "o_orderkey", F.round(F.col("gap"), 2).alias("gap_patched")
    )


def q_groupby_describe(spark, sf_dir) -> DataFrame:
    """groupby().describe(): the 8-stat matrix in ONE aggregate pass
    (library surface; the small per-group result re-enters a DataFrame
    for the driver contract)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    pdf = o[["o_orderstatus", "o_totalprice"]].groupby("o_orderstatus").describe()
    rows = [
        (str(k),) + tuple(round(float(x), 4) for x in r)
        for k, r in zip(pdf.index, pdf.to_numpy())
    ]
    return spark.createDataFrame(
        rows,
        "o_orderstatus string, n double, mean double, std double, min double, "
        "p25 double, p50 double, p75 double, max double",
    )


_QC_WEIGHTS = {
    "spark": 0.9, "query": 0.7, "window": 0.5, "join": 0.4, "merge": 0.3,
    "slow": -0.8, "dup": -1.0, "batch": -0.2,
}


def q_quality_classifier(spark, sf_dir) -> DataFrame:
    """fastText-style linear quality classifier gate (CCNet-style
    pretraining-data filter): mean of per-token weights through a
    sigmoid, vocabulary broadcast as a map literal — zero Python, zero
    shuffle; the gate is a scan predicate. DuckDB replays the identical
    model as an unnest + weight-table join."""
    from eland_spark.operators.text import classifier_quality_gate

    docs = _t(spark, sf_dir, "documents", "doc_id")
    out = classifier_quality_gate(
        docs.to_spark(), F.col("text"), _QC_WEIGHTS, bias=-0.1, threshold=0.5
    )
    return out.select(
        "doc_id", F.round(F.col("quality_prob"), 6).alias("quality_prob")
    )


def q_dt_components(spark, sf_dir) -> DataFrame:
    """Datetime accessor batch 2 via the library (Series.dt.second/
    quarter/dayofyear/week/days_in_month/is_month_end/strftime/floor)
    — all JVM date functions, zero shuffle; DuckDB twins use its own
    extract/strftime/date_trunc."""
    ev = _t(spark, sf_dir, "events", "event_id")
    s = ev["ts"]
    out = ev.assign(
        sec=s.dt.second,
        qtr=s.dt.quarter,
        doy=s.dt.dayofyear,
        wk=s.dt.week,
        dim=s.dt.days_in_month,
        m_end=s.dt.is_month_end,
        fmt=s.dt.strftime("%Y-%m-%d %H:%M"),
        fl_d=s.dt.floor("D"),
    )
    return out[["sec", "qtr", "doy", "wk", "dim", "m_end", "fmt", "fl_d"]].to_spark().select(
        "event_id", "sec", "qtr", "doy", "wk", "dim", "m_end", "fmt", "fl_d"
    )


def q_range_join(spark, sf_dir) -> DataFrame:
    """Bucketized range (interval) join: points to overlapping price
    bands WITHOUT a nested-loop/cartesian join — value axis quantized
    by the max band span, intervals replicated into each overlapped
    bucket (<= 2 here), equi-join on bucket id + BETWEEN post-filter
    (operators/range_join.py; the Databricks RANGE_JOIN bin technique).
    The oracle is the naive BETWEEN join — same semantics, quadratic
    plan DuckDB can afford at sf0.01."""
    from eland_spark.frame import DataFrame as EDF
    from eland_spark.operators.range_join import range_join

    orders = _t(spark, sf_dir, "orders", "o_orderkey")
    bands = EDF(
        spark.range(20).select(
            F.col("id").alias("tier"),
            (F.col("id") * 25000.0).alias("lo"),
            (F.col("id") * 25000.0 + 30000.0).alias("hi"),
        ),
        index_cols=("tier",),
    )
    joined = range_join(orders[["o_totalprice"]], bands, "o_totalprice", "lo", "hi")
    return (
        joined.to_spark()
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("tier")
    )


def q_rowwise_arith(spark, sf_dir) -> DataFrame:
    """axis=1 aggregates (row-local array folds, zero shuffle) +
    frame-scalar arithmetic through the library surface."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    num = o[["o_custkey", "o_totalprice"]]
    rows = num.assign(
        row_sum=num.sum(axis=1),
        row_mean=num.mean(axis=1),
        row_max=num.max(axis=1),
    )[["row_sum", "row_mean", "row_max"]].to_spark()
    shifted = (num + 10).to_spark().select(
        "o_orderkey",
        F.round(F.col("o_custkey"), 2).alias("cust_p10"),
        F.round(F.col("o_totalprice"), 2).alias("price_p10"),
    )
    return shifted.join(rows, "o_orderkey").select(
        "o_orderkey", "cust_p10", "price_p10",
        F.round(F.col("row_sum"), 2).alias("row_sum"),
        F.round(F.col("row_mean"), 4).alias("row_mean"),
        F.round(F.col("row_max"), 2).alias("row_max"),
    )


def q_bloom_membership(spark, sf_dir) -> DataFrame:
    """Bloom-filter membership sketch (operators/sketches.bloom_*):
    per-source filters over doc ids (sparse word/bits rows, md5 double
    hashing, 63-bit words), probed with every present id plus an
    absent twin (+10^9). No false negatives by construction; the
    absent side exercises the fpp path. One build aggregation + one
    probe join + one AND-fold aggregation; fully SQL-replayable
    (DuckDB rebuilds filters and probes with identical bit math)."""
    from eland_spark.operators.sketches import bloom_contains, bloom_sketches

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    sk = bloom_sketches(docs, "doc_id", ["source"], m_bits=8192, n_hashes=4)
    probes = docs.select("source", F.col("doc_id")).unionByName(
        docs.select("source", (F.col("doc_id") + 1000000000).alias("doc_id"))
    )
    out = bloom_contains(sk, probes, "doc_id", ["source"], m_bits=8192, n_hashes=4)
    return out.select(
        "source", F.col("item").alias("probe_id"), "contained"
    ).orderBy("source", "probe_id")


_CMS_PROBES = ["sort", "order", "hash", "the", "stream", "zzqx_absent"]


def q_cms_freq(spark, sf_dir) -> DataFrame:
    """Count-min sketch (operators/sketches.cms_*): per-source token
    frequency sketches (sparse depth x width counters, md5-affine
    hashing — the same engine-portable family as MinHash), point-probed
    for a fixed token list incl. an absent one. Estimates are
    one-sided (>= truth); the DuckDB oracle replays the identical
    sketch so values hash-check exactly. One build aggregation
    (shuffle bounded by groups x depth x width, not rows) + one probe
    join + one min-fold."""
    from eland_spark.operators.sketches import cms_estimate, cms_sketches

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    sk = cms_sketches(toks, "tok", ["source"], depth=4, width=256)
    probes = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.explode(F.array(*[F.lit(t) for t in _CMS_PROBES])).alias("tok"),
        )
    )
    out = cms_estimate(sk, probes, "tok", by=["source"], depth=4, width=256)
    return out.select(
        "source", "item", F.col("est").cast("long").alias("est")
    ).orderBy("source", "item")


def _cms_oracle_sql(depth: int = 4, width: int = 256) -> str:
    """DuckDB oracle for q_cms_freq: the identical md5 -> affine ->
    mod-width coordinates (same LCG constants, seed 1729), counters
    rebuilt with plain GROUP BY, probes min-folded."""
    from eland_spark.operators.dedup import MINHASH_PRIME, minhash_params

    p = MINHASH_PRIME
    params = minhash_params(depth, seed=1729)
    rows_sql = "\n            UNION ALL ".join(
        f"SELECT source, {r} AS row, CAST((({a} * hv + {b}) % {p}) % {width} AS INT)"
        f" AS bucket FROM h"
        for r, (a, b) in enumerate(params)
    )
    prow_sql = "\n            UNION ALL ".join(
        f"SELECT source, tok, {r} AS row, CAST((({a} * hv + {b}) % {p}) % {width}"
        f" AS INT) AS bucket FROM ph"
        for r, (a, b) in enumerate(params)
    )
    vals = ", ".join(f"('{t}')" for t in _CMS_PROBES)
    return f"""
        WITH toks AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM documents
        ), h AS (
            SELECT source,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {p} AS hv
            FROM toks
        ), coords AS (
            SELECT source, row, bucket, count(*) AS cnt FROM (
            {rows_sql}
            ) GROUP BY 1, 2, 3
        ), probes AS (
            SELECT DISTINCT source, v.tok
            FROM documents, (VALUES {vals}) v(tok)
        ), ph AS (
            SELECT source, tok,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {p} AS hv
            FROM probes
        ), pcoords AS (
            {prow_sql}
        )
        SELECT pc.source, pc.tok AS item,
               CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
        FROM pcoords pc
        LEFT JOIN coords c
          ON c.source = pc.source AND c.row = pc.row AND c.bucket = pc.bucket
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def q_kmv_distinct(spark, sf_dir) -> DataFrame:
    """KMV (K-minimum values) distinct sketch, engine-portable: per
    group keep the 256 smallest md5-prefix hashes; estimate
    (K-1)/h_K; MERGE sketches for the global rollup without rescanning
    raw data (lossless vs a from-scratch sketch). Unlike HLL's opaque
    DataSketches binaries, every step replays in SQL — the whole
    build/merge/estimate pipeline is hash-checked."""
    from eland_spark.operators.sketches import (
        kmv_estimate, kmv_rollup_estimate, kmv_sketches,
    )

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    sk = kmv_sketches(li, "l_partkey", ["l_returnflag"], k=256)
    per = sk.select(
        F.col("l_returnflag").alias("grp"),
        kmv_estimate(F.col("kmv"), 256).alias("estimate"),
    )
    glob = kmv_rollup_estimate(sk, [], k=256).select(
        F.lit("ALL").alias("grp"), F.col("estimate")
    )
    return per.unionByName(glob).orderBy("grp")


def q_rollup_hypertable(spark, sf_dir) -> DataFrame:
    """Continuous-aggregate round trip, hash-checked: backfill
    (bucket, event_type) partials to a scratch rollup table, then
    finalize at a COARSER bucket (6h partials -> 1 day) — sums merge
    losslessly and the KMV distinct stays exact below K, so the result
    equals a from-scratch SQL aggregation of the raw events."""
    import tempfile

    from eland_spark.streaming import batch_rollup, read_rollup

    raw = _t(spark, sf_dir, "events", "event_id").to_spark()
    d = tempfile.mkdtemp(prefix="rollup_q_")
    batch_rollup(
        raw, f"{d}/r", "ts", "6 hours", ["event_type"], "value",
        distinct_col="user_id", k=65536,
    )
    out = read_rollup(spark, f"{d}/r", ["event_type"], bucket="1 day", k=65536)
    return out.select(
        F.col("bucket"),
        F.col("event_type"),
        F.col("n"),
        F.round(F.col("total"), 4).alias("total"),
        F.round(F.col("vmin"), 4).alias("vmin"),
        F.round(F.col("vmax"), 4).alias("vmax"),
        F.col("approx_distinct").alias("nd"),
    ).orderBy("bucket", "event_type")


def q_groupby_sample(spark, sf_dir) -> DataFrame:
    """groupby().sample via the library: frac mode is a zero-shuffle
    deterministic md5 threshold; n mode ranks per group on the same
    engine-agnostic key (one keyed window). Both replay in SQL."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    frac = o.groupby("o_orderstatus").sample(frac=0.2).to_spark().select(
        "o_orderkey", F.lit("frac").alias("mode")
    )
    topn = o.groupby("o_orderstatus").sample(n=5).to_spark().select(
        "o_orderkey", F.lit("n").alias("mode")
    )
    return frac.unionByName(topn)


def q_str_cat(spark, sf_dir) -> DataFrame:
    """Series.str.cat elementwise concat (null-propagating) via the
    library."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    s = o["o_orderstatus"].str.cat([o["o_orderpriority"]], sep="-")
    return o.assign(tag=s)[["tag"]].to_spark().select("o_orderkey", "tag")


def q_groupby_corr(spark, sf_dir) -> DataFrame:
    """groupby().corr(): the per-group pairwise Pearson matrix in one
    hash aggregation (library surface; result re-enters a DataFrame as
    (group, col_a, col_b, corr) rows for the driver contract)."""
    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY)
    pdf = (
        li[["l_returnflag", "l_quantity", "l_discount", "l_tax"]]
        .groupby("l_returnflag")
        .corr()
    )
    rows = []
    for (g, a), row in pdf.iterrows():
        for b, v in row.items():
            rows.append((str(g), str(a), str(b), round(float(v), 6)))
    return spark.createDataFrame(
        rows, "grp string, col_a string, col_b string, corr double"
    )


def q_sample_quantile_sketch(spark, sf_dir) -> DataFrame:
    """Mergeable bottom-k row-sample sketch (min-K md5 row keys =
    uniform sample that merges losslessly): per-group p50 from the
    sample, plus the GLOBAL p50 from the merged per-group sketches —
    t-digest-style rollup quantiles, but every step SQL-replayable."""
    from eland_spark.operators.sketches import (
        quantile_from_sample, sample_rollup, sample_sketches,
    )

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    li = li.withColumn(
        "rid",
        F.concat_ws(
            "|", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
        ),
    )
    sk = sample_sketches(li, "l_extendedprice", "rid", ["l_returnflag"], k=512)
    per = sk.select(
        F.col("l_returnflag").alias("grp"),
        F.round(quantile_from_sample(F.col("sample"), 0.5), 2).alias("p50"),
    )
    glob = sample_rollup(sk, [], k=512).select(
        F.lit("ALL").alias("grp"),
        F.round(quantile_from_sample(F.col("sample"), 0.5), 2).alias("p50"),
    )
    return per.unionByName(glob).orderBy("grp")


def q_chunk_chars(spark, sf_dir) -> DataFrame:
    """Fixed-size overlapping character chunking (the RAG/pre-token
    split): sequence + posexplode + substring — zero-shuffle map-only
    projection (operators/chunking.py)."""
    from eland_spark.operators.chunking import chunk_text

    docs = _t(spark, sf_dir, "documents", "doc_id")
    return chunk_text(docs.to_spark(), size=200, overlap=50)


def q_chunk_tokens(spark, sf_dir) -> DataFrame:
    """Word-window chunking sized for a token budget, with per-chunk
    whitespace token counts — the 'split for model context' pre-pass."""
    from eland_spark.operators.chunking import chunk_token_windows

    docs = _t(spark, sf_dir, "documents", "doc_id")
    return chunk_token_windows(docs.to_spark(), max_tokens=40, overlap=8)


def q_embedding_covariance(spark, sf_dir) -> DataFrame:
    """Distributed covariance of the embedding column: one mapInPandas
    scan reduces each Arrow batch to d(d+1)/2+d+1 moment scalars (numpy
    X^T X per batch), so the shuffle is O(d^2) regardless of corpus
    size. DuckDB replays it with covar_samp over the unnested pairs."""
    from eland_spark.operators.decomposition import covariance_matrix

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    out = covariance_matrix(emb.to_spark())
    # + 0.0 flushes IEEE negative zero: DuckDB's round keeps -0.0 where
    # Spark lands on +0.0, and the driver hash is repr-based, so the
    # two zeros hash differently (r6 full-replay finding)
    return out.select(
        "i", "j", (F.round(F.col("cov"), 6) + F.lit(0.0)).alias("cov")
    )


_RP_DIM, _RP_K, _RP_SEED = 64, 4, 7


def q_random_projection(spark, sf_dir) -> DataFrame:
    """Johnson-Lindenstrauss random projection onto LCG-deterministic
    rows — the oblivious dimensionality reduction before ANN. Pure
    Column folds; DuckDB recomputes the identical literals."""
    from eland_spark.operators.decomposition import (
        project, random_projection_matrix,
    )

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    mat = random_projection_matrix(_RP_DIM, k=_RP_K, seed=_RP_SEED)
    out = project(emb.to_spark(), mat, out_col="proj")
    return out.select(
        "vec_id", F.posexplode("proj").alias("comp_id", "p")
    ).select("vec_id", "comp_id", F.round("p", 5).alias("p"))


def _rp_oracle_sql() -> str:
    from eland_spark.operators.decomposition import random_projection_matrix

    mat = random_projection_matrix(_RP_DIM, k=_RP_K, seed=_RP_SEED)
    parts = []
    for j, row in enumerate(mat):
        lit = "[" + ", ".join(repr(x) for x in row) + "]"
        parts.append(
            f"SELECT vec_id, {j} AS comp_id, "
            f"round(list_dot_product(embedding::DOUBLE[], {lit}), 5) AS p "
            f"FROM embeddings"
        )
    return " UNION ALL ".join(parts)


def q_embedding_pca(spark, sf_dir) -> DataFrame:
    """PCA over the embedding column (distributed moments -> driver
    eigh of the d x d covariance -> zero-shuffle projection). The
    eigendecomposition is genuinely non-SQL-expressible, so this entry
    is rows-only by contract; covariance (the data-sized stage) is
    hash-checked by embedding_covariance, and tests pin eigenvalues /
    projections against numpy."""
    from eland_spark.operators.decomposition import pca, project

    emb = _t(spark, sf_dir, "embeddings", "vec_id").to_spark()
    mean, comps, _ = pca(emb, k=2)
    out = project(emb, comps, mean=mean, out_col="proj")
    return out.select(
        "vec_id",
        F.round(F.col("proj")[0], 4).alias("p1"),
        F.round(F.col("proj")[1], 4).alias("p2"),
    )


def q_standardized(spark, sf_dir) -> DataFrame:
    """Column z-scoring (StandardScaler semantics): one agg pass for
    the stats, then a zero-shuffle literal projection."""
    from eland_spark.operators.scaling import standard_scale

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    out = standard_scale(li, ["l_quantity", "l_extendedprice"])
    # + 0.0 flushes IEEE negative zero (see q_embedding_covariance)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        (F.round("l_quantity_z", 4) + F.lit(0.0)).alias("qty_z"),
        (F.round("l_extendedprice_z", 4) + F.lit(0.0)).alias("price_z"),
    )


def q_scaled_robust(spark, sf_dir) -> DataFrame:
    """RobustScaler + MinMaxScaler semantics (exact quantiles via the
    range-sort percentile operator; min/max one agg pass) — literal
    projections, zero shuffle after the stats."""
    from eland_spark.operators.scaling import minmax_scale, robust_scale

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    out = minmax_scale(robust_scale(li, ["l_quantity"]), ["l_extendedprice"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.round("l_quantity_r", 4).alias("qty_r"),
        F.round("l_extendedprice_mm", 4).alias("price_mm"),
    )


def q_quantile_normalize(spark, sf_dir) -> DataFrame:
    """Quantile normalization onto a reference distribution
    (scaling.quantile_normalize): F-status prices re-expressed on the
    O-status price distribution — uniform midrank u (exact, tie
    averaged) composed with the reference's interpolated inverse ECDF,
    the cross-snapshot score calibration step. Reference compresses to
    101 exact percentile landmarks (one range-sort pass, array
    literal); ranks ride the distinct-value prefix-sum plan; the map
    is zero-shuffle arithmetic. DuckDB replays quantile_cont landmarks
    + window midranks + the identical lerp."""
    from eland_spark.operators.scaling import quantile_normalize

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    cur = li.where(F.col("l_linestatus") == "F")
    ref = li.where(F.col("l_linestatus") == "O")
    out = quantile_normalize(cur, "l_extendedprice", ref, n_quantiles=101)
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_extendedprice_qn"), 4).alias("avg_qn"),
        F.round(F.min("l_extendedprice_qn"), 4).alias("min_qn"),
        F.round(F.max("l_extendedprice_qn"), 4).alias("max_qn"),
    )


def _quantile_normalize_oracle_sql(n_quantiles: int = 101) -> str:
    fracs = ", ".join(repr(i / (n_quantiles - 1)) for i in range(n_quantiles))
    return f"""
        WITH lm AS (
            SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
                                 [{fracs}]) AS q
            FROM lineitem
            WHERE l_linestatus = 'O' AND l_extendedprice IS NOT NULL
        ), per AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS v, count(*) AS n
            FROM lineitem
            WHERE l_linestatus = 'F' AND l_extendedprice IS NOT NULL
            GROUP BY 1
        ), m AS (
            SELECT v,
                   ((sum(n) OVER (ORDER BY v) - n) + (n + 1) / 2.0)
                       / (SELECT CAST(sum(n) AS DOUBLE) FROM per) AS u
            FROM per
        ), mapped AS (
            SELECT v,
                   q[CAST(floor(u * {n_quantiles - 1}) AS INT) + 1]
                   + (q[least(CAST(floor(u * {n_quantiles - 1}) AS INT) + 1,
                              {n_quantiles - 1}) + 1]
                      - q[CAST(floor(u * {n_quantiles - 1}) AS INT) + 1])
                     * (u * {n_quantiles - 1}
                        - floor(u * {n_quantiles - 1})) AS qn
            FROM m, lm
        )
        SELECT l_returnflag, count(*) AS n,
               round(avg(qn), 4) AS avg_qn,
               round(min(qn), 4) AS min_qn,
               round(max(qn), 4) AS max_qn
        FROM lineitem
        JOIN mapped ON CAST(l_extendedprice AS DOUBLE) = mapped.v
        WHERE l_linestatus = 'F'
        GROUP BY l_returnflag
    """


def q_chunk_paragraphs(spark, sf_dir) -> DataFrame:
    """Separator-split chunking (chunk_by_separator): parts keep their
    ORIGINAL ordinal (gaps where empty parts were dropped), zero
    shuffle. Fixtures have no blank-line separators, so the split key
    is a literal token — the operator semantics are what's pinned."""
    from eland_spark.operators.chunking import chunk_by_separator

    docs = _t(spark, sf_dir, "documents", "doc_id")
    return chunk_by_separator(docs.to_spark(), sep=" the ")


_CLF_K, _CLF_LR, _CLF_ITERS = 1024, 4.0, 2


def q_train_classifier(spark, sf_dir) -> DataFrame:
    """IN-ENGINE classifier training: full-batch logistic regression on
    md5-hashed token features (label: lang == 'en'), every iteration
    two joins + two hash aggregations — then score the corpus with the
    trained weights. The oracle replays BOTH training iterations as
    chained CTEs (gradient sums are order-insensitive to double
    precision), so the whole learn->score loop is hash-checked."""
    from eland_spark.operators.classifier import (
        score_hashed_classifier, train_linear_classifier,
    )

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    labeled = docs.withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    w, b0 = train_linear_classifier(
        labeled, "text", "y", "doc_id",
        n_buckets=_CLF_K, iters=_CLF_ITERS, lr=_CLF_LR, portable=True,
    )
    p = score_hashed_classifier(F.col("text"), w, b0, portable=True)
    return docs.select(
        "doc_id", "lang", F.round(p, 6).alias("p_en")
    )


def _train_classifier_oracle_sql() -> str:
    k, lr = _CLF_K, _CLF_LR
    return f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '')) AS t
            FROM documents
        ), tb AS (
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {k} AS INT) AS bucket
            FROM tok
        ), nd AS (
            SELECT doc_id, count(*) AS n FROM tb GROUP BY doc_id
        ), feats AS (
            SELECT tb.doc_id, tb.bucket, count(*) * 1.0 / any_value(nd.n) AS x
            FROM tb JOIN nd ON nd.doc_id = tb.doc_id
            GROUP BY tb.doc_id, tb.bucket
        ), lab AS (
            SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM documents
        ), nn AS (SELECT count(*) AS n FROM documents),
        r1 AS (
            SELECT doc_id, 0.5 - y AS r FROM lab
        ), w1 AS (
            SELECT f.bucket, -{lr} * sum(r1.r * f.x) / nn.n AS w
            FROM feats f JOIN r1 ON r1.doc_id = f.doc_id, nn
            GROUP BY f.bucket, nn.n
        ), b1 AS (
            SELECT -{lr} * sum(r) / nn.n AS b FROM r1, nn GROUP BY nn.n
        ), s1 AS (
            SELECT f.doc_id, sum(w1.w * f.x) AS s
            FROM feats f JOIN w1 ON w1.bucket = f.bucket
            GROUP BY f.doc_id
        ), r2 AS (
            SELECT lab.doc_id,
                   1.0 / (1.0 + exp(-(COALESCE(s1.s, 0.0) + b1.b))) - lab.y AS r
            FROM lab LEFT JOIN s1 ON s1.doc_id = lab.doc_id, b1
        ), w2 AS (
            SELECT f.bucket,
                   any_value(COALESCE(w1.w, 0.0))
                   - {lr} * sum(r2.r * f.x) / any_value(nn.n) AS w
            FROM feats f
            LEFT JOIN w1 ON w1.bucket = f.bucket
            JOIN r2 ON r2.doc_id = f.doc_id, nn
            GROUP BY f.bucket
        ), b2 AS (
            SELECT b1.b - {lr} * sum(r2.r) / any_value(nn.n) AS b
            FROM r2, b1, nn GROUP BY b1.b
        ), sf AS (
            SELECT f.doc_id, sum(w2.w * f.x) AS s
            FROM feats f JOIN w2 ON w2.bucket = f.bucket
            GROUP BY f.doc_id
        )
        SELECT d.doc_id, d.lang,
               round(1.0 / (1.0 + exp(-(COALESCE(sf.s, 0.0) + b2.b))), 6) AS p_en
        FROM documents d LEFT JOIN sf ON sf.doc_id = d.doc_id, b2
    """


def q_rollup_topk(spark, sf_dir) -> DataFrame:
    """Heavy hitters through the hypertable rollup: 6h partials carry
    Misra-Gries event-type maps, read back at 1-DAY buckets — the MG
    merge is exact below topk distinct items, so a plain per-day
    GROUP BY replays it."""
    import tempfile

    from eland_spark.streaming import batch_rollup, read_rollup

    raw = _t(spark, sf_dir, "events", "event_id").to_spark()
    d = tempfile.mkdtemp(prefix="rollup_tk_")
    batch_rollup(
        raw, f"{d}/r", "ts", "6 hours", [], "value",
        item_col="event_type", topk=16,
    )
    out = read_rollup(spark, f"{d}/r", [], bucket="1 day", topk=16)
    return out.select(
        "bucket", F.explode("top_items").alias("item", "cnt")
    )


def q_ann_pq(spark, sf_dir) -> DataFrame:
    """Product-quantization ANN (FAISS-style ADC): m=8 subspace
    codebooks (seeded from the 16 lowest-id vectors — SQL-replayable),
    vectors encoded to 8 small codes, query scored via an m x k lookup
    table literal (one array lookup per subspace per row), top-50 ADC
    candidates exact-reranked to cosine top-10. The oracle replays
    codebooks, codes, LUT distances, candidate cut, and rerank."""
    from eland_spark.operators.similarity import pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    books = pq_train(emb, m=8, k=16, max_iter=0, seed_strategy="first")
    qrow = (
        emb.to_spark().filter(F.col("vec_id") == 0).select("embedding").collect()
    )
    q = [float(x) for x in qrow[0]["embedding"]]
    out = pq_topk(emb, q, books, k=10, rerank=50)
    return out.select("vec_id", F.round(F.col("cos"), 5).alias("cos"))


_ANN_PQ_ORACLE = """
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), cb AS (
        SELECT vec_id AS c, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 16
    ), subs AS (
        SELECT unnest(generate_series(0, 7)) AS j
    ), dists AS (
        SELECT e.vec_id, s.j, cb.c,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    i -> (e.embedding[s.j*8 + i]::DOUBLE - cb.v[s.j*8 + i]) ^ 2))
                    AS DOUBLE) AS d
        FROM embeddings e, subs s, cb
    ), codes AS (
        SELECT vec_id, j,
               CAST(min([d, CAST(c AS DOUBLE)])[2] AS INT) AS code
        FROM dists GROUP BY vec_id, j
    ), lut AS (
        SELECT s.j, cb.c,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    i -> (q.qv[s.j*8 + i] - cb.v[s.j*8 + i]) ^ 2))
                    AS DOUBLE) AS d
        FROM q, subs s, cb
    ), adist AS (
        SELECT codes.vec_id, sum(lut.d) AS adist
        FROM codes JOIN lut ON lut.j = codes.j AND lut.c = codes.code
        GROUP BY codes.vec_id
    ), cand AS (
        SELECT vec_id FROM adist ORDER BY adist ASC, vec_id ASC LIMIT 50
    ), rer AS (
        SELECT c.vec_id,
               list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
        FROM cand c JOIN embeddings e USING (vec_id), q
    )
    SELECT vec_id, round(cos_raw, 5) AS cos
    FROM rer ORDER BY cos_raw DESC, vec_id ASC LIMIT 10
"""


def q_corpus_profile(spark, sf_dir) -> DataFrame:
    """Dataset-card style corpus profile: per-source doc counts, token
    totals, mean quality, length extremes, and language cardinality —
    ONE hash aggregation over the documents scan (everything partial-
    aggregable, so the shuffle carries k rows per source)."""
    from eland_spark.operators.text import quality_score, token_count

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
            F.round(F.avg(quality_score(F.col("text"))), 6).alias("avg_quality"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def q_winsorized(spark, sf_dir) -> DataFrame:
    """Winsorization at exact [0.05, 0.95] quantiles (linear
    interpolation — the distributed range-sort percentile operator,
    same numbers as DuckDB quantile_cont), then clip + summary. The
    clip bounds land strictly between data points, so the clipped
    counts are engine-stable integers."""
    from eland_spark.operators.scaling import winsorize

    li = _t(spark, sf_dir, "lineitem", LINEITEM_KEY).to_spark()
    out = winsorize(li, ["l_extendedprice"], 0.05, 0.95)
    return out.agg(
        F.sum(
            (F.col("l_extendedprice") < F.col("l_extendedprice_w")).cast("long")
        ).alias("n_below"),
        F.sum(
            (F.col("l_extendedprice") > F.col("l_extendedprice_w")).cast("long")
        ).alias("n_above"),
        F.round(F.avg("l_extendedprice_w"), 4).alias("avg_w"),
    )


def q_cross_near_dup(spark, sf_dir) -> DataFrame:
    """Cross-corpus NEAR-dup decontamination (fuzzy eval-leakage gate):
    corpus = sources != src0, reference = src0; banded MinHash join
    with the reference side broadcast, md5-portable hash family so
    DuckDB replays the identical signatures."""
    from eland_spark.operators.dedup import cross_near_dup_flags

    docs = _t(spark, sf_dir, "documents", "doc_id")
    corpus = docs[docs.source != "src0"]
    ref = docs[docs.source == "src0"].to_spark()
    out = cross_near_dup_flags(
        corpus, ref, "text", "doc_id", threshold=0.5, portable=True
    )
    return out.select(
        "doc_id",
        "n_near_matches",
        F.round("max_est_jaccard", 6).alias("max_est_jaccard"),
        "contaminated",
    )


def _cross_near_dup_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.5
) -> str:
    """DuckDB oracle for q_cross_near_dup: the portable-md5 MinHash
    pipeline (same LCG constants as _minhash_cand_ctes) run over the
    corpus (source <> 'src0') and reference (source = 'src0') halves,
    banded buckets joined across the two, per-pair signature agreement
    thresholded, then aggregated to per-corpus-doc flags."""
    from eland_spark.operators.dedup import MINHASH_PRIME, minhash_params

    p = MINHASH_PRIME
    params = minhash_params(num_hashes, seed=42)
    rpb = num_hashes // bands
    mins = ",\n                   ".join(
        f"min(({a} * hv + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )

    def side(sfx: str, where: str) -> str:
        bandrows = "\n            UNION ALL ".join(
            "SELECT doc_id, {b} AS b, {key} AS key FROM sig{sfx}".format(
                b=b,
                sfx=sfx,
                key=" || ',' || ".join(
                    f"m{i}" for i in range(b * rpb, (b + 1) * rpb)
                ),
            )
            for b in range(bands)
        )
        return f"""toks{sfx} AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents WHERE {where}
        ), sh{sfx} AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= {k} THEN
                            [array_to_string(l[i:i+{k - 1}], ' ')
                             for i in generate_series(1, len(l) - {k - 1})]
                        WHEN len(l) > 0 THEN [array_to_string(l, ' ')]
                        ELSE [] END AS ss
            FROM toks{sfx}
        ), e{sfx} AS (
            SELECT doc_id, unnest(ss) AS s FROM sh{sfx}
        ), h{sfx} AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p} AS hv
            FROM e{sfx}
        ), sig{sfx} AS (
            SELECT doc_id,
                   {mins}
            FROM h{sfx} GROUP BY doc_id
        ), bandrows{sfx} AS (
            {bandrows}
        )"""

    matches = " + ".join(
        f"(CASE WHEN a.m{i} = bb.m{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
        WITH {side('_c', "source <> 'src0'")}, {side('_r', "source = 'src0'")},
        cand AS (
            SELECT DISTINCT l.doc_id AS id_c, r.doc_id AS id_r
            FROM bandrows_c l JOIN bandrows_r r
              ON l.b = r.b AND l.key = r.key
        ), matched AS (
            SELECT c.id_c,
                   count(*) AS n_near_matches,
                   max(({matches}) / {float(num_hashes)}) AS max_est
            FROM cand c
            JOIN sig_c a ON a.doc_id = c.id_c
            JOIN sig_r bb ON bb.doc_id = c.id_r
            WHERE ({matches}) / {float(num_hashes)} >= {threshold}
            GROUP BY c.id_c
        )
        SELECT d.doc_id,
               COALESCE(m.n_near_matches, 0) AS n_near_matches,
               round(COALESCE(m.max_est, 0.0), 6) AS max_est_jaccard,
               m.n_near_matches IS NOT NULL AS contaminated
        FROM documents d LEFT JOIN matched m ON m.id_c = d.doc_id
        WHERE d.source <> 'src0'
    """


def q_incremental_near_dup(spark, sf_dir) -> DataFrame:
    """Nightly-ingest NEAR-dup gate against a stored MinHash index
    (operators/dedup.minhash_index_rows + minhash_probe; streaming
    maintenance streaming/curation.stream_minhash_update): history
    (doc_id < 400) is signed ONCE into (id, sig, keys) rows, the
    increment (doc_id >= 400) broadcasts its banded keys into the
    bucket join so the 100 TB index streams map-only. md5-portable
    hash family so DuckDB replays the identical signatures."""
    from eland_spark.operators.dedup import minhash_index_rows, minhash_probe

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    index = minhash_index_rows(
        docs.filter(F.col("doc_id") < 400), F.col("text"), F.col("doc_id"),
        portable=True,
    )
    inc = minhash_index_rows(
        docs.filter(F.col("doc_id") >= 400), F.col("text"), F.col("doc_id"),
        portable=True,
    )
    out = minhash_probe(inc, index, threshold=0.5)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_near_matches",
        F.round("max_est_jaccard", 6).alias("max_est_jaccard"),
        "near_dup",
    )


def _incremental_near_dup_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.5
) -> str:
    """DuckDB oracle for q_incremental_near_dup: the portable-md5
    MinHash pipeline over the index (doc_id < 400) and increment
    (doc_id >= 400) halves; band buckets compared by VALUE (band-hash
    equality == slice equality), per-pair signature agreement
    thresholded, aggregated to per-increment flags."""
    from eland_spark.operators.dedup import MINHASH_PRIME, minhash_params

    p = MINHASH_PRIME
    params = minhash_params(num_hashes, seed=42)
    rpb = num_hashes // bands
    mins = ",\n                   ".join(
        f"min(({a} * hv + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )

    def side(sfx: str, where: str) -> str:
        bandrows = "\n            UNION ALL ".join(
            "SELECT doc_id, {b} AS b, {key} AS key FROM sig{sfx}".format(
                b=b,
                sfx=sfx,
                key=" || ',' || ".join(
                    f"m{i}" for i in range(b * rpb, (b + 1) * rpb)
                ),
            )
            for b in range(bands)
        )
        return f"""toks{sfx} AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents WHERE {where}
        ), sh{sfx} AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= {k} THEN
                            [array_to_string(l[i:i+{k - 1}], ' ')
                             for i in generate_series(1, len(l) - {k - 1})]
                        WHEN len(l) > 0 THEN [array_to_string(l, ' ')]
                        ELSE [] END AS ss
            FROM toks{sfx}
        ), e{sfx} AS (
            SELECT doc_id, unnest(ss) AS s FROM sh{sfx}
        ), h{sfx} AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p} AS hv
            FROM e{sfx}
        ), sig{sfx} AS (
            SELECT doc_id,
                   {mins}
            FROM h{sfx} GROUP BY doc_id
        ), bandrows{sfx} AS (
            {bandrows}
        )"""

    matches = " + ".join(
        f"(CASE WHEN a.m{i} = bb.m{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
        WITH {side('_r', 'doc_id < 400')}, {side('_c', 'doc_id >= 400')},
        cand AS (
            SELECT DISTINCT c.doc_id AS id_c, r.doc_id AS id_r
            FROM bandrows_c c JOIN bandrows_r r
              ON c.b = r.b AND c.key = r.key
        ), matched AS (
            SELECT c.id_c,
                   count(*) AS n_near_matches,
                   max(({matches}) / {float(num_hashes)}) AS max_est
            FROM cand c
            JOIN sig_c a ON a.doc_id = c.id_c
            JOIN sig_r bb ON bb.doc_id = c.id_r
            WHERE ({matches}) / {float(num_hashes)} >= {threshold}
            GROUP BY c.id_c
        )
        SELECT d.doc_id,
               COALESCE(m.n_near_matches, 0) AS n_near_matches,
               round(COALESCE(m.max_est, 0.0), 6) AS max_est_jaccard,
               m.n_near_matches IS NOT NULL AS near_dup
        FROM documents d LEFT JOIN matched m ON m.id_c = d.doc_id
        WHERE d.doc_id >= 400
    """


def q_freq_tokens(spark, sf_dir) -> DataFrame:
    """Misra-Gries heavy-hitter sketches: per-language token sketches
    (capped counter summaries per Arrow batch -> bounded shuffle no
    matter the vocabulary size) plus a lossless global rollup. The
    fixture vocabulary fits the k=64 counters, so the sketch is EXACT
    and a plain GROUP BY replays it (the same exact-below-capacity
    oracle contract as the KMV sketch)."""
    from eland_spark.operators.sketches import mg_items, mg_rollup, mg_sketches

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    toks = docs.select(
        "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).where(F.length("tok") > 0)
    sk = mg_sketches(toks, "tok", ["lang"], k=64)
    per = mg_items(sk, ["lang"]).select(
        F.col("lang").alias("grp"), "item", "cnt"
    )
    glob = mg_items(mg_rollup(sk, [], k=64), []).select(
        F.lit("ALL").alias("grp"), "item", "cnt"
    )
    return per.unionByName(glob)


def q_geo_query(spark, sf_dir) -> DataFrame:
    """ES geo queries (geo_distance haversine + geo_bounding_box)
    compiled to pushdown-eligible Column predicates. The geo_point
    struct is derived deterministically from c_custkey (integer
    arithmetic — bit-identical in any engine); the oracle replays the
    identical haversine."""
    cust = _t(spark, sf_dir, "customer", "c_custkey")
    sdf = cust.to_spark().withColumn(
        "point",
        F.struct(
            ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
            ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
        ),
    )
    from eland_spark.frame import DataFrame as EDF

    f = EDF(sdf, index_cols=("c_custkey",)).es_query(
        {
            "bool": {
                "must": [
                    {
                        "geo_distance": {
                            "distance": "5000km",
                            "point": {"lat": 10.0, "lon": 20.0},
                        }
                    }
                ],
                "must_not": [
                    {
                        "geo_bounding_box": {
                            "point": {
                                "top_left": {"lat": 45.0, "lon": -10.0},
                                "bottom_right": {"lat": -45.0, "lon": 60.0},
                            }
                        }
                    }
                ],
            }
        }
    )
    out = f.to_spark()
    return out.select(
        "c_custkey",
        F.round(F.col("point.lat"), 2).alias("lat"),
        F.round(F.col("point.lon"), 2).alias("lon"),
    )


def q_interval_overlap(spark, sf_dir) -> DataFrame:
    """Interval-interval overlap join (the interval twin of range_join):
    both sides bucketized by the max span, equi-join on the bucket id,
    responsibility rule keeps each pair exactly once — no nested-loop
    join (operators/range_join.interval_overlap_join). Click windows
    vs view windows, 30 minutes each."""
    from eland_spark.frame import DataFrame as EDF
    from eland_spark.operators.range_join import interval_overlap_join

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()

    def side(t):
        return EDF(
            ev.where(F.col("event_type") == t).select(
                "event_id",
                F.col("ts").alias("s"),
                (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
            ),
            index_cols=("event_id",),
        )

    out = interval_overlap_join(side("click"), side("view"), "s", "e", "s", "e")
    return out.to_spark().select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_right").alias("view_id"),
    )


def q_temperature_oversample(spark, sf_dir) -> DataFrame:
    """Temperature mixture WITH oversampling: small sources repeat
    (floor(rate) copies + md5-fractional extra, 0-based copy column) —
    the low-resource epoch-repetition rule, zero-shuffle explode."""
    from eland_spark.operators.sampling import sample_by_temperature

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = sample_by_temperature(
        docs, "source", "doc_id", target_rows=800, alpha=0.3,
        allow_oversample=True,
    )
    return out.select("doc_id", "source", "copy")


def q_dedup_within_doc(spark, sf_dir) -> DataFrame:
    """Intra-document repetition removal (order-preserving first
    occurrence per segment; word-level here so the fixtures exercise
    it) — pure Column fold, zero shuffle."""
    from eland_spark.operators.text import remove_repeated_segments

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = remove_repeated_segments(F.col("text"), r"\s+", " ")
    return docs.select(
        "doc_id",
        out.alias("dedup_text"),
        F.length(out).cast("long").alias("n_chars_dedup"),
    )


def q_segment_dedup(spark, sf_dir) -> DataFrame:
    """Corpus-level segment dedup (CCNet/MassiveText/Dolma line-dedup):
    keep the FIRST occurrence of every distinct segment corpus-wide,
    reassemble docs in order. Winner-per-key is a map-side-combinable
    min(struct) agg + skew-splittable join — never a Window over the
    (boilerplate-skewed) segment key. Fixtures have no blank-line
    separators, so the split key is a literal token (the
    chunk_paragraphs convention)."""
    from eland_spark.operators.dedup import segment_dedup

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = segment_dedup(docs, "text", "doc_id", sep=" the ", joiner=" the ")
    return out.select(
        F.col("id").alias("doc_id"), "dedup_text", "n_segments", "n_kept"
    )


def q_gopher_quality(spark, sf_dir) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 A1.1) in one per-row
    Column pass — word-count/word-length/symbol/bullet/ellipsis/
    alpha/stopword signals, per-rule booleans, conjunction pass flag.
    min_stopword_hits lowered to 1 so the synthetic vocabulary (which
    contains only 'the'/'a' from the stopword set) yields a pass/fail
    mix."""
    from eland_spark.operators.text import gopher_quality_frame

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = gopher_quality_frame(docs, "text", "doc_id", min_stopword_hits=1)
    return out.withColumnRenamed("id", "doc_id")


def q_c4_rules(spark, sf_dir) -> DataFrame:
    """C4 cleanup (Raffel et al. 2020 §2.2): line-level filter + page
    rebuild + page-level verdict in one zero-shuffle Column pass.
    Fixtures have no newlines or terminal punctuation, so the line
    separator is the literal-token convention, the terminal-punct gate
    is off, and the bad-word list is a corpus word — rule machinery
    and mixed outcomes are what's pinned."""
    from eland_spark.operators.text import c4_clean_frame

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = c4_clean_frame(
        docs, "text", "doc_id", line_sep=" the ", joiner=" the ",
        require_terminal_punct=False, min_words_per_line=5,
        min_kept_lines=2, bad_words=["slow"],
    )
    return out.withColumnRenamed("id", "doc_id")


_DSIR_BUCKETS, _DSIR_ALPHA, _DSIR_N, _DSIR_SEED = 4096, 1.0, 60, 7


def q_dsir_select(spark, sf_dir) -> DataFrame:
    """DSIR (Xie et al. 2023): hashed unigram+bigram bucket models for
    target (src0) vs raw (everything else), per-doc importance
    log-weight, Gumbel top-k resample without replacement. md5-portable
    buckets + hash-derived Gumbel draw, so the oracle replays features,
    both models, scores, and the draw bit-for-bit."""
    from eland_spark.operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    target = docs.where(F.col("source") == "src0")
    raw = docs.where(F.col("source") != "src0")
    sel = dsir_select(
        target, raw, "text", "doc_id", _DSIR_N,
        n_buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA, seed=_DSIR_SEED,
        portable=True,
    )
    return sel.select(
        F.col("id").alias("doc_id"),
        F.round("log_weight", 6).alias("log_weight"),
    )


def _dsir_oracle_sql() -> str:
    b, alpha, n, seed = _DSIR_BUCKETS, _DSIR_ALPHA, _DSIR_N, _DSIR_SEED
    return f"""
        WITH tok AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents
        ), grams AS (
            SELECT doc_id, source,
                   unnest(list_concat(l,
                       [l[i] || ' ' || l[i+1] for i in generate_series(1, len(l)-1)])) AS g
            FROM tok
        ), feat AS (
            SELECT doc_id, source,
                   CAST(CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {b} AS INT) AS bucket,
                   count(*) AS cnt
            FROM grams GROUP BY doc_id, source, bucket
        ), tc AS (
            SELECT bucket, sum(cnt) AS tcnt FROM feat WHERE source = 'src0' GROUP BY bucket
        ), rc AS (
            SELECT bucket, sum(cnt) AS rcnt FROM feat WHERE source <> 'src0' GROUP BY bucket
        ), j AS (
            SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
                   coalesce(tcnt, 0) AS tcnt, coalesce(rcnt, 0) AS rcnt
            FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket
        ), tot AS (
            SELECT sum(tcnt) AS ttot, sum(rcnt) AS rtot FROM j
        ), lr AS (
            SELECT bucket,
                   ln((tcnt + {alpha}) / (ttot + {alpha} * {float(b)}))
                   - ln((rcnt + {alpha}) / (rtot + {alpha} * {float(b)})) AS logratio
            FROM j, tot
        ), sc AS (
            SELECT f.doc_id AS id, sum(f.cnt * lr.logratio) AS log_weight
            FROM feat f JOIN lr ON lr.bucket = f.bucket
            WHERE f.source <> 'src0'
            GROUP BY f.doc_id
        ), keyed AS (
            SELECT id, log_weight,
                   log_weight + (-ln(-ln(greatest(
                       CAST(CAST(('0x' || substr(md5(id || '{seed}'), 1, 13)) AS BIGINT) AS DOUBLE)
                       / 4503599627370496.0, 1e-15)))) AS k
            FROM sc
        )
        SELECT id AS doc_id, round(log_weight, 6) AS log_weight
        FROM keyed ORDER BY k DESC, id ASC LIMIT {n}
    """


def q_dedup_keep_best(spark, sf_dir) -> DataFrame:
    """Quality-keep near-dup dedup: cluster near-duplicates, keep the
    LONGEST doc per cluster (ties -> lowest id) — md5-portable mode so
    DuckDB replays pairs, the recursive-CTE closure, AND the arg_max
    keep policy end-to-end."""
    from eland_spark.operators.dedup import near_dup_keep_best

    docs = _t(spark, sf_dir, "documents", "doc_id")
    kept = near_dup_keep_best(
        docs, "text", "doc_id", "n_chars", threshold=0.6, portable=True
    )
    return kept.to_spark().select("doc_id", "lang", "n_chars")


def _dedup_keep_best_oracle_sql(
    num_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.6
) -> str:
    ctes, matches = _minhash_cand_ctes(num_hashes, bands, k)
    return f"""
        WITH RECURSIVE {ctes}, p AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN sig a ON a.doc_id = c.id_a
            JOIN sig bb ON bb.doc_id = c.id_b
            WHERE ({matches}) / {float(num_hashes)} >= {threshold}
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM p
            UNION
            SELECT id_b AS a, id_a AS b FROM p
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
        ), comps AS (
            SELECT node, min(r) AS component FROM reach GROUP BY node
        ), lab AS (
            SELECT d.doc_id, d.lang, d.n_chars,
                   COALESCE(c.component, d.doc_id) AS comp
            FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
        ), win AS (
            SELECT comp,
                   -- (score, -id) lexicographic order packed into one
                   -- BIGINT (ids << 1e9 in the fixtures)
                   arg_max(doc_id, n_chars * 1000000000 - doc_id) AS keep_id
            FROM lab GROUP BY comp
        )
        SELECT l.doc_id, l.lang, l.n_chars
        FROM lab l JOIN win w ON l.doc_id = w.keep_id
    """


_MLT_LIKE = "spark shuffle partition broadcast join window aggregate"
_MLT_MSM = "40%"


def q_more_like_this(spark, sf_dir) -> DataFrame:
    """ES more_like_this analog: the like-text's distinct terms matched
    word-boundary across fields, doc kept when >= minimum_should_match
    terms hit (percentage rounds down like ES). Pure Column predicate."""
    docs = _t(spark, sf_dir, "documents", "doc_id")
    hit = docs.es_query(
        {
            "more_like_this": {
                "fields": ["text"],
                "like": _MLT_LIKE,
                "minimum_should_match": _MLT_MSM,
            }
        }
    )
    return hit[["doc_id", "lang"]].to_spark()


def _mlt_oracle_sql() -> str:
    import re as _re

    terms = []
    for w in _re.findall(r"[0-9a-zA-Z_]+", _MLT_LIKE.lower()):
        if w not in terms:
            terms.append(w)
    msm = max(1, int(len(terms) * 40 / 100.0))
    hits = " + ".join(
        f"(CASE WHEN regexp_matches(lower(text), '\\b{t}\\b') THEN 1 ELSE 0 END)"
        for t in terms
    )
    return f"""
        SELECT doc_id, lang FROM documents
        WHERE ({hits}) >= {msm}
    """


# ---------------------------------------------------------------------------
# data-quality verification / profiling (operators/quality.py)
# ---------------------------------------------------------------------------

def q_quality_suite(spark, sf_dir) -> DataFrame:
    """Deequ-style constraint suite (Schelter et al., VLDB 2018) on
    lineitem: completeness/min/max/mean/size/compliance/containment in
    ONE full-scan aggregation, plus a keyed uniqueness aggregation and
    a broadcast referential-integrity join against orders. Thresholds
    chosen for a pass/fail mix on the synthetic data (max(l_discount)
    is 0.1 > 0.08; qty<=30 holds for only ~60% of rows; the
    (l_orderkey, l_linenumber) pair is intentionally non-unique)."""
    from eland_spark.operators.quality import Check, verify

    li = _t(spark, sf_dir, "lineitem").to_spark()
    orders = _t(spark, sf_dir, "orders").to_spark()
    check = (
        Check("lineitem integrity")
        .is_complete("l_orderkey")
        .has_min("l_quantity", 1.0)
        .has_max("l_discount", 0.08)
        .has_mean("l_discount", between=(0.04, 0.06))
        .has_size(between=(1000, 1e12))
        .is_contained_in("l_returnflag", ["A", "N", "R"])
        .satisfies("l_extendedprice > 0", "positive_price")
        .satisfies("l_quantity <= 30", "qty_le_30", min_ratio=0.95)
        .is_unique("l_orderkey", "l_linenumber")
        .is_referenced_in("l_orderkey", orders, "o_orderkey")
    )
    return verify(li, check)


def _quality_suite_oracle_sql() -> str:
    def row(label, metric, passed):
        lit = label.replace("'", "''")
        return (f"SELECT '{lit}' AS \"constraint\", "
                f"round({metric}, 6) AS metric, ({passed}) AS passed "
                f"FROM lineitem")

    m_comp = "avg(CASE WHEN l_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END)"
    m_min = "min(CAST(l_quantity AS DOUBLE))"
    m_max = "max(CAST(l_discount AS DOUBLE))"
    m_mean = "avg(l_discount)"
    m_size = "CAST(count(*) AS DOUBLE)"
    m_cont = ("avg(CASE WHEN COALESCE(l_returnflag IN ('A', 'N', 'R'), "
              "FALSE) THEN 1.0 ELSE 0.0 END)")
    m_pos = ("avg(CASE WHEN COALESCE(l_extendedprice > 0, FALSE) "
             "THEN 1.0 ELSE 0.0 END)")
    m_qty = ("avg(CASE WHEN COALESCE(l_quantity <= 30, FALSE) "
             "THEN 1.0 ELSE 0.0 END)")
    scalar = " UNION ALL ".join([
        row("completeness(l_orderkey)", m_comp, f"{m_comp} >= 1.0"),
        row("min(l_quantity)", m_min, f"{m_min} >= 1.0"),
        row("max(l_discount)", m_max, f"{m_max} <= 0.08"),
        row("mean(l_discount)", m_mean,
            f"{m_mean} >= 0.04 AND {m_mean} <= 0.06"),
        row("size()", m_size, f"{m_size} >= 1000 AND {m_size} <= 1e12"),
        row("compliance(l_returnflag IN ('A', 'N', 'R'))", m_cont,
            f"{m_cont} >= 1.0"),
        row("compliance(positive_price)", m_pos, f"{m_pos} >= 1.0"),
        row("compliance(qty_le_30)", m_qty, f"{m_qty} >= 0.95"),
    ])
    return f"""
        WITH keyed AS (
            SELECT count(*) AS n FROM lineitem
            GROUP BY l_orderkey, l_linenumber
        ), uniq AS (
            SELECT CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / sum(n) AS u
            FROM keyed
        ), refd AS (
            SELECT avg(CASE WHEN d.__dk__ IS NOT NULL THEN 1.0 ELSE 0.0 END)
                   AS c
            FROM (SELECT l_orderkey FROM lineitem
                  WHERE l_orderkey IS NOT NULL) f
            LEFT JOIN (SELECT DISTINCT o_orderkey AS __dk__ FROM orders
                       WHERE o_orderkey IS NOT NULL) d
              ON f.l_orderkey = d.__dk__
        )
        {scalar}
        UNION ALL
        SELECT 'uniqueness(l_orderkey, l_linenumber)' AS "constraint",
               round(u, 6) AS metric, (u >= 1.0) AS passed FROM uniq
        UNION ALL
        SELECT 'referenced(l_orderkey -> o_orderkey)' AS "constraint",
               round(c, 6) AS metric, (c >= 1.0) AS passed FROM refd
    """


def q_profile_table(spark, sf_dir) -> DataFrame:
    """Single-pass column profiler over lineitem (exact distinct so the
    oracle replays it; approx_count_distinct is the 100 TB variant):
    one aggregation row carrying completeness/distinct/min/max/mean/
    avg_len for every profiled column, exploded to one row per column."""
    from eland_spark.operators.quality import profile

    li = _t(spark, sf_dir, "lineitem").to_spark()
    return profile(
        li, ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    )


def _profile_table_oracle_sql() -> str:
    def col_sql(c, dtype, mean, avg_len):
        return f"""
        SELECT '{c}' AS "column", '{dtype}' AS dtype,
               round(avg(CASE WHEN {c} IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
                   AS completeness,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value,
               {mean} AS mean, {avg_len} AS avg_len
        FROM lineitem"""

    null_d = "CAST(NULL AS DOUBLE)"
    return " UNION ALL ".join([
        col_sql("l_orderkey", "bigint", "round(avg(l_orderkey), 6)", null_d),
        col_sql("l_quantity", "double", "round(avg(l_quantity), 6)", null_d),
        col_sql("l_returnflag", "string", null_d,
                "round(avg(length(l_returnflag)), 6)"),
        col_sql("l_shipdate", "timestamp_ntz", null_d, null_d),
    ])


# ---------------------------------------------------------------------------
# graph centrality (operators/graph.py)
# ---------------------------------------------------------------------------

_PR_ITERS, _PR_DAMP = 3, 0.85


def _part_supplier_edges(spark, sf_dir):
    """Undirected part<->supplier bipartite graph from lineitem. Node
    ids are LONGS (parts even, suppliers odd) so the dedup and every
    per-round join shuffle 16-byte keys instead of strings — the
    display labels are re-derived from parity at the very end."""
    li = _t(spark, sf_dir, "lineitem").to_spark()
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev)


def _graph_node_label(col):
    return F.when(
        col % 2 == 0, F.concat(F.lit("p"), (col / 2).cast("long"))
    ).otherwise(F.concat(F.lit("s"), ((col - 1) / 2).cast("long")))


def q_pagerank(spark, sf_dir) -> DataFrame:
    """PageRank (Page et al. 1999), fixed 3-round power iteration over
    the part<->supplier graph — the host-centrality prior a web-crawl
    curation pipeline attaches next to its text-quality gates. The
    graph is undirected so every node has out-edges and the dangling
    term is identically zero — dangling="ignore" therefore computes the
    IDENTICAL result while skipping the per-round dangling-mass job
    (redistribute semantics are pinned separately in tests/test_graph);
    the oracle replays the same 3 unrolled rounds."""
    from eland_spark.operators.graph import pagerank

    ranks = pagerank(
        _part_supplier_edges(spark, sf_dir),
        iterations=_PR_ITERS, damping=_PR_DAMP, dangling="ignore",
    )
    return ranks.select(
        _graph_node_label(F.col("node")).alias("node"),
        F.round("rank", 9).alias("rank"),
    )


def _pagerank_oracle_sql() -> str:
    d, k = _PR_DAMP, _PR_ITERS
    parts = [f"""
        WITH e AS (
            SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
            FROM lineitem
            UNION
            SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
            FROM lineitem
        ), nodes AS (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ), odeg AS (
            SELECT src AS node, count(*) AS od FROM e GROUP BY src
        ), nn AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
        ), r0 AS (
            SELECT nodes.node, odeg.od, 1.0 / nn.n AS rank
            FROM nodes JOIN odeg USING (node), nn
        )"""]
    prev = "r0"
    for i in range(1, k + 1):
        parts.append(f""", c{i} AS (
            SELECT e.dst AS node, sum({prev}.rank / {prev}.od) AS inc
            FROM {prev} JOIN e ON {prev}.node = e.src GROUP BY e.dst
        ), r{i} AS (
            SELECT nodes.node, odeg.od,
                   (1 - {d}) / nn.n + {d} * COALESCE(c{i}.inc, 0) AS rank
            FROM nodes JOIN odeg USING (node)
            LEFT JOIN c{i} USING (node), nn
        )""")
        prev = f"r{i}"
    parts.append(f"\nSELECT node, round(rank, 9) AS rank FROM {prev}")
    return "".join(parts)


def q_pagerank_personalized(spark, sf_dir) -> DataFrame:
    """Weighted + personalized PageRank: edge weights are the
    (part, supplier) co-occurrence counts from lineitem, teleport mass
    restarts at the supplier nodes — 'which parts matter to this
    supplier cohort', the graph-similarity workhorse. Same 3 unrolled
    rounds replayed in the oracle with the weight and restart terms."""
    from eland_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").to_spark()
    fwd = li.groupBy(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).agg(F.count(F.lit(1)).cast("double").alias("w"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    seeds = li.select((F.col("l_suppkey") * 2 + 1).alias("node")).distinct()
    ranks = pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_DAMP,
        dangling="ignore", weight="w", personalized=seeds,
    )
    return ranks.select(
        _graph_node_label(F.col("node")).alias("node"),
        F.round("rank", 9).alias("rank"),
    )


def _pagerank_personalized_oracle_sql() -> str:
    d, k = _PR_DAMP, _PR_ITERS
    parts = [f"""
        WITH e0 AS (
            SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst,
                   CAST(count(*) AS DOUBLE) AS w
            FROM lineitem GROUP BY 1, 2
        ), e AS (
            SELECT src, dst, w FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst, w FROM e0
        ), nodes AS (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ), odeg AS (
            SELECT src AS node, sum(w) AS od FROM e GROUP BY src
        ), ns AS (
            SELECT CAST(count(DISTINCT l_suppkey) AS DOUBLE) AS n
            FROM lineitem
        ), pvec AS (
            SELECT nodes.node, odeg.od,
                   CASE WHEN nodes.node LIKE 's%' THEN 1.0 / ns.n
                        ELSE 0.0 END AS p
            FROM nodes JOIN odeg USING (node), ns
        ), r0 AS (
            SELECT node, od, p, p AS rank FROM pvec
        )"""]
    prev = "r0"
    for i in range(1, k + 1):
        parts.append(f""", c{i} AS (
            SELECT e.dst AS node, sum({prev}.rank * e.w / {prev}.od) AS inc
            FROM {prev} JOIN e ON {prev}.node = e.src GROUP BY e.dst
        ), r{i} AS (
            SELECT pvec.node, pvec.od, pvec.p,
                   (1 - {d}) * pvec.p + {d} * COALESCE(c{i}.inc, 0) AS rank
            FROM pvec LEFT JOIN c{i} USING (node)
        )""")
        prev = f"r{i}"
    parts.append(f"\nSELECT node, round(rank, 9) AS rank FROM {prev}")
    return "".join(parts)


def q_graph_degrees(spark, sf_dir) -> DataFrame:
    """Per-node in/out degree of the directed part->supplier edge set
    (distinct edges) — one explode + one hash aggregation."""
    from eland_spark.operators.graph import degrees

    li = _t(spark, sf_dir, "lineitem").to_spark()
    e = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    return degrees(e).select(
        _graph_node_label(F.col("node")).alias("node"),
        "out_degree", "in_degree",
    )


def _graph_degrees_oracle_sql() -> str:
    return """
        WITH e AS (
            SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
            FROM lineitem
        ), b AS (
            SELECT src AS node, 1 AS is_out FROM e
            UNION ALL
            SELECT dst AS node, 0 AS is_out FROM e
        )
        SELECT node, CAST(sum(is_out) AS BIGINT) AS out_degree,
               CAST(sum(1 - is_out) AS BIGINT) AS in_degree
        FROM b GROUP BY node
    """


# ---------------------------------------------------------------------------
# rolling anomaly detection (operators/timeseries.py)
# ---------------------------------------------------------------------------

def q_rolling_zscore(spark, sf_dir) -> DataFrame:
    """Per-user rolling z-score over events.value: each point scored
    against its 20 trailing predecessors (self excluded), flagged at
    |z| >= 2.5. (event_id tiebreaks equal timestamps so the frame —
    and the score — is a pure function of the data.) One hash exchange
    on user_id, O(window) state per row."""
    from eland_spark.operators.timeseries import rolling_zscore

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    out = rolling_zscore(
        ev.select("event_id", "ts", "user_id", "value"),
        "value", ["ts", "event_id"], by="user_id",
        window=20, min_periods=5, threshold=2.5,
    )
    return out.where(F.col("is_anomaly")).select("event_id", "user_id", "zscore")


def _rolling_zscore_oracle_sql() -> str:
    return """
        WITH scored AS (
            SELECT event_id, user_id,
                   round(CASE WHEN count(value) OVER w >= 5
                              AND stddev_samp(value) OVER w > 0
                         THEN (value - avg(value) OVER w)
                              / stddev_samp(value) OVER w END, 6) AS zscore
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, zscore FROM scored
        WHERE abs(zscore) >= 2.5
    """


def q_wide_to_long(spark, sf_dir) -> DataFrame:
    """pandas wide_to_long parity: pivot per-supplier quantity sums to
    wide qty_A/qty_N/qty_R columns, then unpivot back with the stub
    machinery (string suffixes, null for absent combos). The expansion
    is a per-row explode — zero shuffle beyond the pivot's own agg."""
    import eland_spark as es

    li = _t(spark, sf_dir, "lineitem").to_spark()
    wide = (
        li.groupBy("l_suppkey")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    wide = wide.select(
        "l_suppkey", *[F.col(f).alias(f"qty_{f}") for f in ["A", "N", "R"]]
    )
    out = es.wide_to_long(
        es.DataFrame(wide), "qty", i="l_suppkey", j="flag",
        sep="_", suffix="[ANR]",
    )
    return out.to_spark().select("l_suppkey", "flag", "qty")


def _wide_to_long_oracle_sql() -> str:
    return """
        WITH s AS (SELECT DISTINCT l_suppkey FROM lineitem),
        f AS (SELECT unnest(['A', 'N', 'R']) AS flag),
        agg AS (
            SELECT l_suppkey, l_returnflag AS flag,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem GROUP BY 1, 2
        )
        SELECT s.l_suppkey, f.flag, agg.qty
        FROM s CROSS JOIN f
        LEFT JOIN agg USING (l_suppkey, flag)
    """


# ---------------------------------------------------------------------------
# event-sequence analytics (operators/funnel.py)
# ---------------------------------------------------------------------------

_FUNNEL_STEPS, _FUNNEL_WITHIN = ["view", "click", "purchase"], 86400


def q_funnel(spark, sf_dir) -> DataFrame:
    """Greedy ordered funnel view->click->purchase within 24h: ONE
    shuffle groups each user's step events, a codegen'd F.aggregate
    fold walks the time-sorted list (micro-exact epoch arithmetic), and
    one constraint-sized aggregation emits per-step reach + conversion.
    The fold equals the sequential min-chain the oracle replays with
    chained CTEs — ties at one timestamp resolve in step order on both
    engines."""
    from eland_spark.operators.funnel import funnel

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    return funnel(ev, _FUNNEL_STEPS, within_seconds=_FUNNEL_WITHIN)


def q_rolling_corr(spark, sf_dir) -> DataFrame:
    """Series.rolling(30).corr(other) — Pearson per window on
    pairwise-complete observations, both series on one frame, through
    the windowless bucketed plan
    (operators/ranking.with_global_rolling_binary; corr assembled as
    cov/(sqrt(vx)*sqrt(vy)) in the projection so zero-variance windows
    give pandas' NaN, never an ANSI divide error)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    o["k97"] = (o.o_orderkey % 97)
    out = o["o_totalprice"].rolling(30).corr(o["k97"])
    return out.to_spark().select(
        "o_orderkey", F.round("rolling_corr", 6).alias("rolling_corr")
    )


def _rolling_corr_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           round(CASE WHEN count(*) OVER w >= 30
                      THEN corr(o_totalprice, o_orderkey % 97) OVER w
                 END, 6) AS rolling_corr
    FROM orders
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    """


def q_rolling_apply(spark, sf_dir) -> DataFrame:
    """Series.rolling(7).apply(custom fn) — arbitrary Python per
    window through ONE Arrow-batched applyInPandas over the bucketed
    padded frame (never per-row Python). The fn here (window range,
    max - min) is deliberately SQL-expressible so the oracle replays
    it exactly with window max/min; exactness holds because max-min
    involves no sum reordering."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].rolling(7, min_periods=3).apply(
        lambda a: a.max() - a.min(), raw=True
    )
    return out.to_spark().select("o_orderkey", "rolling_apply")


def _rolling_apply_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           CASE WHEN count(o_totalprice) OVER w >= 3
                THEN max(o_totalprice) OVER w - min(o_totalprice) OVER w
           END AS rolling_apply
    FROM orders
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """


def q_groupby_rolling_apply(spark, sf_dir) -> DataFrame:
    """groupby().rolling().apply(custom fn): one Arrow-batched
    applyInPandas riding the group shuffle (groupby._GroupRolling.
    apply). The fn (window range) is SQL-expressible so the oracle
    replays it with a keyed window max-min."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_orderstatus", "o_totalprice"]].groupby(
        "o_orderstatus"
    ).rolling(5, min_periods=2).apply(
        lambda a: float(a.max() - a.min()), raw=True
    )
    return out.to_spark().select(
        "o_orderkey", F.col("o_totalprice").alias("price_range")
    )


def _groupby_rolling_apply_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           CASE WHEN count(o_totalprice) OVER w >= 2
                THEN max(o_totalprice) OVER w - min(o_totalprice) OVER w
           END AS price_range
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """


def q_frame_expanding(spark, sf_dir) -> DataFrame:
    """DataFrame.expanding(): running mean/std/count for EVERY numeric
    column through one shared bucket-prefix exchange
    (operators/ranking.with_global_expanding); std uses the
    mean-shifted double moments, so values match DuckDB's stable
    stddev_samp window to rounding."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_totalprice"]].expanding(min_periods=2).agg(
        ["mean", "std", "count"]
    )
    # round at 2 decimals, not 6: the engines associate the prefix sum
    # differently (bucket partials vs sequential), so unrounded means
    # differ by ~1e-10 absolute — at a 1e-6 grid that flips a couple of
    # rows per 15k across a .5 boundary (the CLAUDE.md rounding trap);
    # at 1e-2 the flip probability is ~1e-8 per row
    return out.to_spark().select(
        "o_orderkey",
        F.round("o_totalprice_mean", 2).alias("exp_mean"),
        F.round("o_totalprice_std", 2).alias("exp_std"),
        F.col("o_totalprice_count").alias("exp_count"),
    )


def _frame_expanding_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           CASE WHEN count(o_totalprice) OVER w >= 2
                THEN round(avg(o_totalprice) OVER w, 2) END AS exp_mean,
           CASE WHEN count(o_totalprice) OVER w >= 2
                THEN round(stddev_samp(o_totalprice) OVER w, 2)
           END AS exp_std,
           CASE WHEN row_number() OVER (ORDER BY o_orderkey) >= 2
                THEN CAST(count(o_totalprice) OVER w AS DOUBLE)
           END AS exp_count
    FROM orders
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


_REINDEX_LABELS = [1, 2, 3, 5, 6, 33, 4000, 999_999_983]


def q_reindex(spark, sf_dir) -> DataFrame:
    """DataFrame.reindex(index=labels): one null-safe left join of the
    broadcastable label table onto orders; missing labels produce null
    rows (pandas NaN rows). Duplicate-source guard is a bounded eager
    existence check (frame.py reindex)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_totalprice", "o_orderstatus"]].reindex(
        index=_REINDEX_LABELS
    )
    return out.to_spark().select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


def _reindex_oracle_sql() -> str:
    vals = ", ".join(f"({v})" for v in _REINDEX_LABELS)
    return f"""
    WITH lbl(k) AS (VALUES {vals})
    SELECT CAST(l.k AS BIGINT) AS o_orderkey,
           o.o_totalprice AS o_totalprice,
           o.o_orderstatus AS o_orderstatus
    FROM lbl l LEFT JOIN orders o ON o.o_orderkey = l.k
    """


def q_reindex_ffill(spark, sf_dir) -> DataFrame:
    """reindex(method='ffill'): missing labels take the nearest
    PRECEDING existing label's row — the as-of join plan
    (operators/asof.py: one union + keyed running row-fill, the row
    carried as a struct so a matched row's own nulls survive). Oracle:
    DuckDB native ASOF LEFT JOIN."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_totalprice", "o_orderstatus"]].reindex(
        index=_REINDEX_LABELS, method="ffill"
    )
    return out.to_spark().select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


def _reindex_ffill_oracle_sql() -> str:
    vals = ", ".join(f"({v})" for v in _REINDEX_LABELS)
    return f"""
    WITH lbl(k) AS (VALUES {vals})
    SELECT CAST(l.k AS BIGINT) AS o_orderkey,
           o.o_totalprice AS o_totalprice,
           o.o_orderstatus AS o_orderstatus
    FROM lbl l ASOF LEFT JOIN orders o ON l.k >= o.o_orderkey
    """


def q_align_outer(spark, sf_dir) -> DataFrame:
    """DataFrame.align(join='outer'): engine-side key union (never a
    driver collect) + one left join per side; columns conform to the
    sorted union with null fills. Returns the LEFT aligned frame (the
    right is the same plan mirrored)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    left = o[o["o_orderkey"] < 1000][["o_totalprice", "o_custkey"]]
    right = o[(o["o_orderkey"] >= 500) & (o["o_orderkey"] < 1500)][
        ["o_totalprice", "o_orderpriority"]
    ]
    al, _ = left.align(right, join="outer")
    return al.to_spark().select(
        "o_orderkey",
        F.col("o_custkey").cast("double").alias("o_custkey"),
        "o_orderpriority",
        "o_totalprice",
    )


def _align_outer_oracle_sql() -> str:
    return """
    WITH l AS (SELECT o_orderkey, o_totalprice, o_custkey
               FROM orders WHERE o_orderkey < 1000),
         r AS (SELECT o_orderkey FROM orders
               WHERE o_orderkey >= 500 AND o_orderkey < 1500),
         keys AS (SELECT o_orderkey FROM l
                  UNION SELECT o_orderkey FROM r)
    SELECT keys.o_orderkey,
           CAST(l.o_custkey AS DOUBLE) AS o_custkey,
           CAST(NULL AS DOUBLE) AS o_orderpriority,
           l.o_totalprice AS o_totalprice
    FROM keys LEFT JOIN l USING (o_orderkey)
    """


def q_funnel_skew_safe(spark, sf_dir) -> DataFrame:
    """Same funnel as q_funnel via the bounded-state k-chained-min-agg
    plan (operators/funnel.py _chained_min_chains): step 1 is a
    per-user min agg, each later step one user-keyed hash join + min
    agg over 'step-i events at-or-after the previous chain time' —
    O(1) agg-buffer state per user, immune to bot-grade hot users.
    Shares q_funnel's oracle because the greedy fold over a
    (ts, step-rank)-sorted list IS the sequential min-chain for
    distinct step types."""
    from eland_spark.operators.funnel import funnel

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    return funnel(ev, _FUNNEL_STEPS, within_seconds=_FUNNEL_WITHIN,
                  skew_safe=True)


def _funnel_oracle_sql() -> str:
    steps, w_us = _FUNNEL_STEPS, _FUNNEL_WITHIN * 1_000_000
    ctes = [f"""s1 AS (
        SELECT user_id, min(ts) AS ts1 FROM events
        WHERE event_type = '{steps[0]}' GROUP BY 1
    )"""]
    for i in range(2, len(steps) + 1):
        ctes.append(f"""s{i} AS (
        SELECT e.user_id, min(e.ts) AS ts{i}
        FROM events e JOIN s{i-1} USING (user_id)
        WHERE e.event_type = '{steps[i-1]}' AND e.ts >= s{i-1}.ts{i-1}
        GROUP BY 1
    )""")
    rows = []
    for i in range(1, len(steps) + 1):
        if i == 1:  # ts1 - ts1 = 0 <= w always; a self-join would
            reach = "(SELECT count(*) FROM s1)"  # duplicate the alias
        else:
            reach = (f"(SELECT count(*) FROM s{i} JOIN s1 USING (user_id) "
                     f"WHERE epoch_us(s{i}.ts{i}) - epoch_us(s1.ts1) <= {w_us})")
        rows.append(
            f"SELECT {i} AS step_index, '{steps[i-1]}' AS step, "
            f"{reach} AS n_users, "
            f"round(CASE WHEN base.b > 0 THEN {reach} * 1.0 / base.b "
            f"ELSE 0.0 END, 6) AS conversion FROM base"
        )
    body = " UNION ALL ".join(rows)
    return (
        "WITH " + ", ".join(ctes)
        + ", base AS (SELECT count(*) AS b FROM s1)\n" + body
    )


def q_funnel_chains(spark, sf_dir) -> DataFrame:
    """Per-user funnel step completions (long format of q_funnel):
    same single user-shuffle fold, exploded to one row per completed
    step with its chain timestamp. Batch twin of the streaming
    funnel_with_state operator (pinned equal in tests/test_streaming)."""
    from eland_spark.operators.funnel import funnel_chains

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    return funnel_chains(ev, _FUNNEL_STEPS, within_seconds=_FUNNEL_WITHIN)


def _funnel_chains_oracle_sql() -> str:
    steps, w_us = _FUNNEL_STEPS, _FUNNEL_WITHIN * 1_000_000
    ctes = [f"""s1 AS (
        SELECT user_id, min(ts) AS ts1 FROM events
        WHERE event_type = '{steps[0]}' GROUP BY 1
    )"""]
    for i in range(2, len(steps) + 1):
        ctes.append(f"""s{i} AS (
        SELECT e.user_id, min(e.ts) AS ts{i}
        FROM events e JOIN s{i-1} USING (user_id)
        WHERE e.event_type = '{steps[i-1]}' AND e.ts >= s{i-1}.ts{i-1}
        GROUP BY 1
    )""")
    rows = []
    for i in range(1, len(steps) + 1):
        gate = ("" if i == 1 else
                f" AND epoch_us(s{i}.ts{i}) - epoch_us(s1.ts1) <= {w_us}")
        join = ("" if i == 1 else
                f" JOIN s1 USING (user_id)")
        rows.append(
            f"SELECT user_id, {i} AS step_index, '{steps[i-1]}' AS step, "
            f"s{i}.ts{i} AS step_ts FROM s{i}{join} WHERE TRUE{gate}"
        )
    return "WITH " + ", ".join(ctes) + "\n" + " UNION ALL ".join(rows)


_COHORT_PERIOD = 7 * 24 * 3600


def q_cohort_retention(spark, sf_dir) -> DataFrame:
    """Weekly cohort retention triangle over events: two hash
    aggregations (per-user first period, then per-(cohort, offset)
    distinct actives), exact long epoch arithmetic so period boundaries
    replay bit-identically."""
    from eland_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    return cohort_retention(ev, period_seconds=_COHORT_PERIOD)


def _cohort_retention_oracle_sql() -> str:
    su = _COHORT_PERIOD * 1_000_000
    return f"""
        WITH ev AS (
            SELECT user_id,
                   (epoch_us(ts) - epoch_us(ts) % {su}) / {su} AS p
            FROM events WHERE ts IS NOT NULL
        ), first AS (
            SELECT user_id, min(p) AS c FROM ev GROUP BY 1
        ), cells AS (
            SELECT DISTINCT ev.user_id, first.c, ev.p - first.c AS d
            FROM ev JOIN first USING (user_id)
        )
        SELECT make_timestamp(CAST(c AS BIGINT) * {su}) AS cohort_start,
               CAST(d AS BIGINT) AS period_number,
               count(*) AS n_active
        FROM cells GROUP BY 1, 2
    """


def q_get_dummies(spark, sf_dir) -> DataFrame:
    """Frame-level one-hot encoding (pandas pd.get_dummies): value set
    resolved at plan time under the bounded-distinct guard, encoding a
    pure zero-shuffle projection."""
    import eland_spark as es

    li = _t(spark, sf_dir, "lineitem").to_spark()
    df = es.DataFrame(
        li.select("l_orderkey", "l_linenumber", "l_returnflag")
    )
    return df.get_dummies(columns=["l_returnflag"]).to_spark()


def _get_dummies_oracle_sql() -> str:
    mk = ", ".join(
        f"CAST(CASE WHEN l_returnflag = '{v}' THEN 1 ELSE 0 END AS INTEGER)"
        f" AS l_returnflag_{v}"
        for v in ["A", "N", "R"]
    )
    return f"SELECT l_orderkey, l_linenumber, {mk} FROM lineitem"


# ---------------------------------------------------------------------------
# time-weighted avg / counter rate (operators/timeseries.py)
# ---------------------------------------------------------------------------

_TWA_BUCKET = 6 * 3600


def q_time_weighted_avg(spark, sf_dir) -> DataFrame:
    """LOCF time-weighted average of events.value per (user, 6h
    bucket) — TimescaleDB time_weight shape: one keyed window for the
    successor gap + one hash aggregation, exact micro arithmetic."""
    from eland_spark.operators.timeseries import time_weighted_avg

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    out = time_weighted_avg(ev, "value", "ts", by="user_id",
                            bucket_seconds=_TWA_BUCKET)
    return out.select("user_id", "bucket", F.round("twa", 6).alias("twa"))


def _twa_oracle_sql() -> str:
    b = _TWA_BUCKET * 1_000_000
    return f"""
        WITH base AS (
            SELECT user_id,
                   epoch_us(ts) - epoch_us(ts) % {b} AS b,
                   epoch_us(ts) AS t, CAST(value AS DOUBLE) AS v
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), wgt AS (
            SELECT user_id, b, v,
                   COALESCE(CAST(lead(t) OVER (PARTITION BY user_id, b
                        ORDER BY t, v) - t AS DOUBLE), 0.0) AS w
            FROM base
        )
        SELECT user_id, make_timestamp(b) AS bucket,
               round(CASE WHEN sum(w) > 0 THEN sum(v * w) / sum(w)
                          ELSE avg(v) END, 6) AS twa
        FROM wgt GROUP BY 1, 2
    """


def q_counter_rate(spark, sf_dir) -> DataFrame:
    """Reset-aware counter increase + per-second rate per (user, 6h
    bucket) — the PromQL increase/rate convention; the lag chain
    crosses bucket boundaries, resets contribute the restarted value."""
    from eland_spark.operators.timeseries import counter_rate

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    return counter_rate(ev, "value", "ts", by="user_id",
                        bucket_seconds=_TWA_BUCKET)


def _counter_rate_oracle_sql() -> str:
    b = _TWA_BUCKET * 1_000_000
    return f"""
        WITH base AS (
            SELECT user_id,
                   epoch_us(ts) - epoch_us(ts) % {b} AS bk,
                   epoch_us(ts) AS t, CAST(value AS DOUBLE) AS v
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), d AS (
            SELECT user_id, bk,
                   CASE WHEN lag(v) OVER w IS NULL THEN NULL
                        WHEN v < lag(v) OVER w THEN v
                        ELSE v - lag(v) OVER w END AS delta
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY t, v)
        )
        SELECT user_id, make_timestamp(bk) AS bucket,
               round(COALESCE(sum(delta), 0.0), 6) AS increase,
               round(round(COALESCE(sum(delta), 0.0), 6)
                     / {_TWA_BUCKET}.0, 6) AS rate_per_sec
        FROM d GROUP BY 1, 2
    """


def q_frame_rolling(spark, sf_dir) -> DataFrame:
    """Frame-level rolling over the global index order: mean+count of
    two measures in ONE bucket-overlap pass (no single-partition
    window); oracle replays with a plain ROWS window."""
    import eland_spark as es

    od = _t(spark, sf_dir, "orders").to_spark()
    df = es.DataFrame(
        od.select("o_orderkey", "o_totalprice",
                  F.col("o_custkey").cast("double").alias("o_custkey")),
        index_cols=("o_orderkey",),  # unique -> total order is exact
    )
    out = df.rolling(10, min_periods=5).agg(["mean", "count"])
    sdf = out.to_spark()
    return sdf.select(
        "o_orderkey",
        F.round("o_totalprice_mean", 6).alias("price_mean"),
        F.col("o_totalprice_count").alias("price_n"),
        F.round("o_custkey_mean", 6).alias("cust_mean"),
    )


def _frame_rolling_oracle_sql() -> str:
    return """
        WITH w AS (
            SELECT o_orderkey,
                   avg(CAST(o_totalprice AS DOUBLE)) OVER win AS pm,
                   count(o_totalprice) OVER win AS pn,
                   avg(CAST(o_custkey AS DOUBLE)) OVER win AS cm
            FROM orders
            WINDOW win AS (ORDER BY o_orderkey
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        )
        SELECT o_orderkey,
               round(CASE WHEN pn >= 5 THEN pm END, 6) AS price_mean,
               CASE WHEN pn >= 5 THEN pn END AS price_n,
               round(CASE WHEN pn >= 5 THEN cm END, 6) AS cust_mean
        FROM w
    """


# ---------------------------------------------------------------------------
# distribution drift (operators/drift.py)
# ---------------------------------------------------------------------------

_PSI_EDGES = [0.0, 10000.0, 25000.0, 50000.0, 75000.0, 100000.0]


def q_drift_psi(spark, sf_dir) -> DataFrame:
    """PSI/KL drift table between the F and O lineitem populations over
    l_extendedprice with explicit bin edges — each snapshot reduces to
    bin counts in one hash agg, everything after is bin-sized."""
    from eland_spark.operators.drift import drift_bins

    li = _t(spark, sf_dir, "lineitem").to_spark()
    ref = li.where(F.col("l_linestatus") == "F")
    cur = li.where(F.col("l_linestatus") == "O")
    return drift_bins(ref, cur, "l_extendedprice", edges=_PSI_EDGES)


def _drift_psi_oracle_sql() -> str:
    e = _PSI_EDGES
    case = "CASE WHEN l_extendedprice < {lo} THEN -1 {mids} ELSE {top} END".format(
        lo=e[0],
        mids=" ".join(
            f"WHEN l_extendedprice < {e[i + 1]} THEN {i}"
            for i in range(len(e) - 1)
        ),
        top=len(e) - 1,
    )
    return f"""
        WITH rc AS (
            SELECT {case} AS bin, count(*) AS rn FROM lineitem
            WHERE l_linestatus = 'F' AND l_extendedprice IS NOT NULL
            GROUP BY 1
        ), cc AS (
            SELECT {case} AS bin, count(*) AS cn FROM lineitem
            WHERE l_linestatus = 'O' AND l_extendedprice IS NOT NULL
            GROUP BY 1
        ), j AS (
            SELECT COALESCE(rc.bin, cc.bin) AS bin, rn, cn
            FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin
        ), t AS (
            SELECT CAST(COALESCE(sum(rn), 0) AS DOUBLE) AS rt,
                   CAST(COALESCE(sum(cn), 0) AS DOUBLE) AS ct
            FROM j
        )
        SELECT bin,
               round(COALESCE(rn, 0) / t.rt, 6) AS ref_frac,
               round(COALESCE(cn, 0) / t.ct, 6) AS cur_frac,
               round((greatest(COALESCE(rn, 0) / t.rt, 1e-4)
                      - greatest(COALESCE(cn, 0) / t.ct, 1e-4))
                     * ln(greatest(COALESCE(rn, 0) / t.rt, 1e-4)
                          / greatest(COALESCE(cn, 0) / t.ct, 1e-4)), 6)
                   AS psi_term,
               round(greatest(COALESCE(rn, 0) / t.rt, 1e-4)
                     * ln(greatest(COALESCE(rn, 0) / t.rt, 1e-4)
                          / greatest(COALESCE(cn, 0) / t.ct, 1e-4)), 6)
                   AS kl_term
        FROM j, t
    """


# ---------------------------------------------------------------------------
# classifier evaluation (operators/evaluation.py)
# ---------------------------------------------------------------------------

def q_eval_auc(spark, sf_dir) -> DataFrame:
    """Exact tie-corrected ROC AUC (Mann-Whitney rank-sum) of doc
    length predicting English — the holdout check before a classifier
    gate filters a corpus. Scores reduce to a distinct-score frame,
    the cumulative position runs the windowless bucket prefix-sum, and
    the rank-sum is one scalar agg; heavy ties exercised (n_chars
    collide constantly)."""
    from eland_spark.operators.evaluation import auc

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    scored = docs.select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return auc(scored, "score", "label")


def _eval_auc_oracle_sql() -> str:
    return """
        WITH base AS (
            SELECT CAST(n_chars AS DOUBLE) AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        ), ps AS (
            SELECT s, count(*) AS n, sum(y) AS np FROM base GROUP BY s
        ), c AS (
            SELECT s, n, np, sum(n) OVER (ORDER BY s) AS cum FROM ps
        ), a AS (
            SELECT sum(np * ((cum - n) + (n + 1) / 2.0)) AS rpos,
                   CAST(sum(np) AS DOUBLE) AS p,
                   CAST(sum(n - np) AS DOUBLE) AS nn
            FROM c
        )
        SELECT round(CASE WHEN p > 0 AND nn > 0
                          THEN (rpos - p * (p + 1) / 2.0) / (p * nn) END, 6)
                   AS auc,
               CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
        FROM a
    """


def q_eval_confusion(spark, sf_dir) -> DataFrame:
    """Confusion matrix + precision/recall/F1 at a fixed threshold in
    ONE full-scan aggregation (mergeable partials)."""
    from eland_spark.operators.evaluation import confusion_at

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    scored = docs.select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return confusion_at(scored, "score", "label", threshold=120.0)


def _eval_confusion_oracle_sql() -> str:
    return """
        WITH base AS (
            SELECT CASE WHEN CAST(n_chars AS DOUBLE) >= 120.0
                        THEN 1 ELSE 0 END AS pred,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        ), a AS (
            SELECT CAST(sum(pred * y) AS BIGINT) AS tp,
                   CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
                   CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn,
                   CAST(sum((1 - pred) * y) AS BIGINT) AS fn
            FROM base
        )
        SELECT tp, fp, tn, fn,
               round(CASE WHEN tp + fp > 0
                          THEN tp * 1.0 / (tp + fp) END, 6) AS precision,
               round(CASE WHEN tp + fn > 0
                          THEN tp * 1.0 / (tp + fn) END, 6) AS recall,
               round(CASE WHEN tp + fp > 0 AND tp + fn > 0
                          AND tp * 1.0 / (tp + fp) + tp * 1.0 / (tp + fn) > 0
                          THEN 2 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn))
                               / (tp * 1.0 / (tp + fp) + tp * 1.0 / (tp + fn))
                          END, 6) AS f1
        FROM a
    """


def q_rank_metrics(spark, sf_dir) -> DataFrame:
    """Per-query retrieval scorecard (evaluation.ranking_metrics):
    nDCG@10 / MRR@10 / precision@10 / recall@10 per lang over a
    deterministic ranking (docs by n_chars desc within lang) with
    graded source-derived relevance — one keyed window + one groupBy
    reusing its exchange."""
    from eland_spark.operators.evaluation import ranking_metrics

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = docs.where(F.col("lang").isNotNull()).select(
        "lang",
        F.row_number().over(w).alias("rank"),
        F.when(F.col("source").isin("src0", "src1"), 2.0)
        .when(F.col("source").isin("src2", "src3", "src4"), 1.0)
        .otherwise(0.0)
        .alias("rel"),
    )
    return ranking_metrics(ranked, "lang", "rank", "rel", k=10)


def _rank_metrics_oracle_sql() -> str:
    return """
        WITH r AS (
            SELECT lang,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY n_chars DESC, doc_id
                   ) AS rank,
                   CASE WHEN source IN ('src0', 'src1') THEN 2.0
                        WHEN source IN ('src2', 'src3', 'src4') THEN 1.0
                        ELSE 0.0 END AS rel
            FROM documents WHERE lang IS NOT NULL
        ), i AS (
            SELECT lang, rank, rel,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY rel DESC, rank
                   ) AS irank
            FROM r
        ), a AS (
            SELECT lang,
                   sum(CASE WHEN rank <= 10
                            THEN (pow(2, rel) - 1) / log2(rank + 1)
                            ELSE 0.0 END) AS dcg,
                   sum(CASE WHEN irank <= 10 AND rel > 0
                            THEN (pow(2, rel) - 1) / log2(irank + 1)
                            ELSE 0.0 END) AS idcg,
                   min(CASE WHEN rank <= 10 AND rel > 0 THEN rank END) AS fr,
                   sum(CASE WHEN rank <= 10 AND rel > 0 THEN 1 ELSE 0 END)
                       AS relk,
                   sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS nrel
            FROM i GROUP BY lang
        )
        SELECT lang,
               round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)
                   AS ndcg,
               round(COALESCE(1.0 / fr, 0.0), 6) AS mrr,
               round(relk / 10.0, 6) AS precision_k,
               round(CASE WHEN nrel > 0 THEN relk * 1.0 / nrel
                          ELSE 0.0 END, 6) AS recall_k,
               CAST(nrel AS BIGINT) AS n_rel
        FROM a
    """


def q_calibration(spark, sf_dir) -> DataFrame:
    """Reliability table + ECE terms (evaluation.calibration_bins):
    a synthetic [0,1] score (n_chars mod 100 / 100) against the
    lang='en' label, 10 equal-width bins — ONE full-scan hash agg to
    bin-cardinality rows, total via 1-row broadcast scalar join."""
    from eland_spark.operators.evaluation import calibration_bins

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    scored = docs.select(
        ((F.col("n_chars") % 100) / 100.0).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return calibration_bins(scored, "score", "label", bins=10)


def _calibration_oracle_sql() -> str:
    return """
        WITH base AS (
            SELECT (n_chars % 100) / 100.0 AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
            WHERE n_chars IS NOT NULL AND lang IS NOT NULL
              AND (n_chars % 100) / 100.0 BETWEEN 0.0 AND 1.0
        ), per AS (
            SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
                   count(*) AS n, avg(s) AS conf, avg(y * 1.0) AS acc
            FROM base GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n) AS DOUBLE) AS tn FROM per
        )
        SELECT bin, CAST(n AS BIGINT) AS n,
               round(conf, 6) AS confidence,
               round(acc, 6) AS accuracy,
               round(abs(acc - conf), 6) AS gap,
               round(n / tn, 6) AS weight,
               round((n / tn) * abs(acc - conf), 6) AS ece_term
        FROM per, tot
    """


def q_cohens_kappa(spark, sf_dir) -> DataFrame:
    """Chance-corrected agreement (evaluation.cohens_kappa) between two
    length-based labelers (char count vs space count) — ONE full scan
    to checkpointed contingency cells; po, marginals, and pe are all
    cell-sized re-aggs, assembled by a 1-row scalar join."""
    from eland_spark.operators.evaluation import cohens_kappa

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    spaces = F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    labeled = docs.where(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    ).select(
        F.when(F.col("n_chars") >= 180, "long").otherwise("short").alias("a"),
        F.when(spaces >= 25, "long").otherwise("short").alias("b"),
    )
    return cohens_kappa(labeled, "a", "b")


def _cohens_kappa_oracle_sql() -> str:
    return """
        WITH base AS (
            SELECT CASE WHEN n_chars >= 180 THEN 'long' ELSE 'short' END AS a,
                   CASE WHEN length(text) - length(replace(text, ' ', ''))
                             >= 25
                        THEN 'long' ELSE 'short' END AS b
            FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
        ), obs AS (
            SELECT count(*) AS n,
                   avg(CASE WHEN a = b THEN 1.0 ELSE 0.0 END) AS po
            FROM base
        ), pa AS (
            SELECT a, count(*) AS ca FROM base GROUP BY a
        ), pb AS (
            SELECT b, count(*) AS cb FROM base GROUP BY b
        ), pe AS (
            SELECT COALESCE(sum(ca * 1.0 * cb), 0.0) AS pen
            FROM pa JOIN pb ON pa.a = pb.b
        )
        SELECT round(CASE WHEN pen / (n * 1.0 * n) < 1.0
                          THEN (po - pen / (n * 1.0 * n))
                               / (1.0 - pen / (n * 1.0 * n)) END, 6) AS kappa,
               round(po, 6) AS po,
               round(pen / (n * 1.0 * n), 6) AS pe,
               CAST(n AS BIGINT) AS n
        FROM obs, pe
    """


def q_drift_ks(spark, sf_dir) -> DataFrame:
    """Exact two-sample KS statistic (drift.ks_statistic) between the F
    and O lineitem populations over l_extendedprice — the bin-free
    complement to drift_psi: per-value counts in one hash agg each,
    joined counts checkpointed (snapshots stream through once), both
    running ECDFs on ONE windowless bucket prefix-sum pass, sup
    distance as one scalar agg."""
    from eland_spark.operators.drift import ks_statistic

    li = _t(spark, sf_dir, "lineitem").to_spark()
    ref = li.where(F.col("l_linestatus") == "F")
    cur = li.where(F.col("l_linestatus") == "O")
    return ks_statistic(ref, cur, "l_extendedprice")


def _drift_ks_oracle_sql() -> str:
    return """
        WITH rc AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS v, count(*) AS rn
            FROM lineitem
            WHERE l_linestatus = 'F' AND l_extendedprice IS NOT NULL
              AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
            GROUP BY 1
        ), cc AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS v, count(*) AS cn
            FROM lineitem
            WHERE l_linestatus = 'O' AND l_extendedprice IS NOT NULL
              AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
            GROUP BY 1
        ), j AS (
            SELECT COALESCE(rc.v, cc.v) AS v,
                   COALESCE(rn, 0) AS rn, COALESCE(cn, 0) AS cn
            FROM rc FULL OUTER JOIN cc ON rc.v = cc.v
        ), c AS (
            SELECT v, sum(rn) OVER (ORDER BY v) AS cr,
                   sum(cn) OVER (ORDER BY v) AS cumc
            FROM j
        ), t AS (
            SELECT CAST(sum(rn) AS DOUBLE) AS nr,
                   CAST(sum(cn) AS DOUBLE) AS nc
            FROM j
        )
        SELECT round(max(abs(cr / nr - cumc / nc)), 6) AS ks,
               CAST(max(nr) AS BIGINT) AS n_ref,
               CAST(max(nc) AS BIGINT) AS n_cur
        FROM c, t
    """


def q_assoc_lang_source(spark, sf_dir) -> DataFrame:
    """Categorical association scorecard (drift.chi2_association):
    chi-squared, Cramér's V, and mutual information between lang and
    source — the lang-x-domain confound check before training. One
    hash agg to observed contingency cells; marginals broadcast back;
    one scalar agg (zero-expected cells handled by the o^2/(ra*cb)
    identity, no dense marginal cross)."""
    from eland_spark.operators.drift import chi2_association

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    return chi2_association(docs, "lang", "source")


def _assoc_lang_source_oracle_sql() -> str:
    return """
        WITH base AS (
            SELECT CAST(lang AS VARCHAR) AS a, CAST(source AS VARCHAR) AS b
            FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        ), cont AS (
            SELECT a, b, count(*) AS o FROM base GROUP BY a, b
        ), ra AS (
            SELECT a, CAST(sum(o) AS DOUBLE) AS ca FROM cont GROUP BY a
        ), cbm AS (
            SELECT b, CAST(sum(o) AS DOUBLE) AS cb FROM cont GROUP BY b
        ), tot AS (
            SELECT CAST(sum(o) AS DOUBLE) AS n,
                   count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
            FROM cont
        ), j AS (
            SELECT o * 1.0 AS o, ca, cb, n, ka, kb
            FROM cont JOIN ra USING (a) JOIN cbm USING (b), tot
        ), s AS (
            SELECT CAST(max(n) AS BIGINT) AS n,
                   max(n) * sum(o * o / (ca * cb)) - max(n) AS chi2,
                   CAST((max(ka) - 1) * (max(kb) - 1) AS BIGINT) AS dof,
                   sum((o / n) * ln(o * n / (ca * cb))) AS mi,
                   least(max(ka) - 1, max(kb) - 1) AS mindim
            FROM j
        )
        SELECT n, round(chi2, 6) AS chi2, dof,
               round(CASE WHEN mindim > 0 AND n > 0
                          THEN sqrt(greatest(chi2, 0.0) / (n * mindim))
                          END, 6) AS cramers_v,
               round(mi, 6) AS mutual_info
        FROM s
    """


def q_rolling_quantile(spark, sf_dir) -> DataFrame:
    """Series.rolling(7).quantile(0.25) — the exact linear-interpolated
    window percentile on the bucketed padded plan (ranking.
    with_global_rolling_quantile); Spark's percentile and DuckDB's
    quantile_cont share the lower + (higher-lower)*frac interpolation,
    so the oracle replays bit-for-bit."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o["o_totalprice"].rolling(7, min_periods=3).quantile(0.25)
    return out.to_spark().select("o_orderkey", "rolling_quantile")


def _rolling_quantile_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           CASE WHEN count(o_totalprice) OVER w >= 3
                THEN quantile_cont(o_totalprice, 0.25) OVER w
           END AS rolling_quantile
    FROM orders
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """


def q_groupby_rolling_quantile(spark, sf_dir) -> DataFrame:
    """groupby().rolling().quantile(0.75): the exact linear-interpolated
    percentile over each bounded per-group frame — ONE keyed window
    (hash shuffle on the group key), Spark percentile == DuckDB
    quantile_cont bit-for-bit (same interpolation formula)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_orderstatus", "o_totalprice"]].groupby(
        "o_orderstatus"
    ).rolling(5, min_periods=2).quantile(0.75)
    return out.to_spark().select(
        "o_orderkey", F.col("o_totalprice").alias("price_q75")
    )


def _groupby_rolling_quantile_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           CASE WHEN count(o_totalprice) OVER w >= 2
                THEN quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75)
                     OVER w
           END AS price_q75
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """


def q_rolling_skew_kurt(spark, sf_dir) -> DataFrame:
    """Series.rolling().skew()/.kurt() — pandas sample-adjusted G1/G2
    per trailing window, both moments sharing ONE bucketed padded pass
    (ranking.with_global_rolling with aggs=[skew, kurt]). Spark's
    population window moments convert algebraically; DuckDB's
    skewness/kurtosis are natively sample-adjusted, so the oracle uses
    them directly (round 6 absorbs the different evaluation orders)."""
    from eland_spark.operators.ranking import with_global_rolling

    o = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    base = o.select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("v")
    )
    out = with_global_rolling(
        base, ["o_orderkey"], ["v"], 7, ["skew", "kurt"], min_periods=4
    )
    return out.select(
        "o_orderkey",
        F.round("v__rolling_skew", 6).alias("rolling_skew"),
        F.round("v__rolling_kurt", 6).alias("rolling_kurt"),
    )


def _rolling_skew_kurt_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           round(CASE WHEN count(v) OVER w >= 4 THEN
                      CASE WHEN min(v) OVER w = max(v) OVER w THEN 0.0
                           WHEN var_pop(v) OVER w <= 1e-14 THEN NULL
                           ELSE skewness(v) OVER w END END, 6)
               AS rolling_skew,
           round(CASE WHEN count(v) OVER w >= 4 THEN
                      CASE WHEN min(v) OVER w = max(v) OVER w THEN -3.0
                           WHEN var_pop(v) OVER w <= 1e-14 THEN NULL
                           ELSE kurtosis(v) OVER w END END, 6)
               AS rolling_kurt
    FROM (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v FROM orders)
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """


def q_acf(spark, sf_dir) -> DataFrame:
    """Autocorrelation function (timeseries.acf): lags 1..8 of
    o_totalprice over the key order, ALL lags in one plan — one
    global-rank pass, one join against the lag-exploded copy, one
    lag-keyed corr agg."""
    from eland_spark.operators.timeseries import acf

    o = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    return acf(o, ["o_orderkey"], "o_totalprice", nlags=8)


def _acf_oracle_sql() -> str:
    return """
        WITH r AS (
            SELECT row_number() OVER (ORDER BY o_orderkey) AS g,
                   CAST(o_totalprice AS DOUBLE) AS v
            FROM orders
        ), l AS (
            SELECT CAST(unnest(range(1, 9)) AS INT) AS lag
        )
        SELECT l.lag AS lag,
               round(corr(a.v, b.v), 6) AS acf,
               CAST(count(CASE WHEN a.v IS NOT NULL
                                AND b.v IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n
        FROM l JOIN r a ON true JOIN r b ON b.g = a.g - l.lag
        GROUP BY l.lag
    """


def q_expanding_skew_kurt(spark, sf_dir) -> DataFrame:
    """Series.expanding().skew()/.kurt() — pandas sample G1/G2 over the
    running prefix, both from ONE windowless cumulative bucket pass
    (ranking.with_global_expanding: centered cumulative power sums +
    binomial-shift central moments). Oracle uses DuckDB's natively
    sample-adjusted skewness/kurtosis over an unbounded-preceding
    frame; round 6 absorbs the different evaluation orders."""
    from eland_spark.operators.ranking import with_global_expanding

    o = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    base = o.select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("v")
    )
    out = with_global_expanding(
        base, ["o_orderkey"], ["v"], ["skew", "kurt"], min_periods=1
    )
    return out.select(
        "o_orderkey",
        F.round("v__expanding_skew", 6).alias("expanding_skew"),
        F.round("v__expanding_kurt", 6).alias("expanding_kurt"),
    )


def _expanding_skew_kurt_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           round(CASE WHEN count(v) OVER w >= 3 THEN
                      CASE WHEN min(v) OVER w = max(v) OVER w THEN 0.0
                           WHEN var_pop(v) OVER w <= 1e-14 THEN NULL
                           ELSE skewness(v) OVER w END END, 6)
               AS expanding_skew,
           round(CASE WHEN count(v) OVER w >= 4 THEN
                      CASE WHEN min(v) OVER w = max(v) OVER w THEN -3.0
                           WHEN var_pop(v) OVER w <= 1e-14 THEN NULL
                           ELSE kurtosis(v) OVER w END END, 6)
               AS expanding_kurt
    FROM (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v FROM orders)
    WINDOW w AS (ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


def q_groupby_rolling_skew(spark, sf_dir) -> DataFrame:
    """groupby().rolling().skew(): sample G1 per bounded per-group
    frame — ONE keyed window, pandas rolling-path guards (all-equal
    0.0, variance <= 1e-14 null)."""
    o = _t(spark, sf_dir, "orders", "o_orderkey")
    out = o[["o_orderstatus", "o_totalprice"]].groupby(
        "o_orderstatus"
    ).rolling(6, min_periods=3).skew()
    return out.to_spark().select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 6).alias("price_skew"),
    )


def _groupby_rolling_skew_oracle_sql() -> str:
    return """
    SELECT o_orderkey,
           round(CASE WHEN count(v) OVER w >= 3 THEN
                      CASE WHEN min(v) OVER w = max(v) OVER w THEN 0.0
                           WHEN var_pop(v) OVER w <= 1e-14 THEN NULL
                           ELSE skewness(v) OVER w END END, 6)
               AS price_skew
    FROM (SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DOUBLE) AS v FROM orders)
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                 ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    """


def q_seasonal_decompose(spark, sf_dir) -> DataFrame:
    """Classical additive seasonal decomposition (timeseries.
    seasonal_decompose): period-7 trend/seasonal/resid of o_totalprice
    over the key order — trailing MA on the bucketed padded plan
    realigned by the dense-position shift join, phase means broadcast
    back; the oracle replays it with a centered SQL window frame."""
    from eland_spark.operators.timeseries import seasonal_decompose

    o = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    out = seasonal_decompose(o, ["o_orderkey"], "o_totalprice", period=7)
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 6).alias("value"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("resid", 6).alias("resid"),
    )


def _seasonal_decompose_oracle_sql() -> str:
    return """
        WITH r AS (
            SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v,
                   row_number() OVER (ORDER BY o_orderkey) AS g
            FROM orders
        ), t AS (
            SELECT o_orderkey, v, g,
                   CASE WHEN count(v) OVER w = 7
                        THEN avg(v) OVER w END AS trend
            FROM r
            WINDOW w AS (ORDER BY g
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), s AS (
            SELECT (g - 1) % 7 AS ph, avg(v - trend) AS sm
            FROM t GROUP BY 1
        ), o AS (
            SELECT avg(sm) AS so FROM s
        ), sc AS (
            SELECT ph, sm - so AS seasonal FROM s, o
        )
        SELECT t.o_orderkey,
               round(v, 6) AS value,
               round(trend, 6) AS trend,
               round(sc.seasonal, 6) AS seasonal,
               round(v - trend - sc.seasonal, 6) AS resid
        FROM t JOIN sc ON (t.g - 1) % 7 = sc.ph
    """


def q_linear_fit(spark, sf_dir) -> DataFrame:
    """Whole-table OLS trend (timeseries.linear_fit): extendedprice
    regressed on quantity — ONE agg of the builtin regr_* family
    (mergeable partials, SQL-standard pair-dropping semantics shared
    with DuckDB)."""
    from eland_spark.operators.timeseries import linear_fit

    li = _t(spark, sf_dir, "lineitem").to_spark()
    out = linear_fit(li, "l_quantity", "l_extendedprice")
    return out.select(
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
        "n",
    )


def _linear_fit_oracle_sql() -> str:
    return """
        SELECT round(regr_slope(CAST(l_extendedprice AS DOUBLE),
                                CAST(l_quantity AS DOUBLE)), 6) AS slope,
               round(regr_intercept(CAST(l_extendedprice AS DOUBLE),
                                    CAST(l_quantity AS DOUBLE)), 6)
                   AS intercept,
               round(regr_r2(CAST(l_extendedprice AS DOUBLE),
                             CAST(l_quantity AS DOUBLE)), 6) AS r2,
               CAST(regr_count(CAST(l_extendedprice AS DOUBLE),
                               CAST(l_quantity AS DOUBLE)) AS BIGINT) AS n
        FROM lineitem
    """


def q_groupby_linear_fit(spark, sf_dir) -> DataFrame:
    """Per-group OLS trend: one hash aggregation, group-cardinality
    output."""
    from eland_spark.operators.timeseries import linear_fit

    li = _t(spark, sf_dir, "lineitem").to_spark()
    out = linear_fit(
        li, "l_quantity", "l_extendedprice", by=["l_returnflag"]
    )
    return out.select(
        "l_returnflag",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
        "n",
    )


def _groupby_linear_fit_oracle_sql() -> str:
    return """
        SELECT l_returnflag,
               round(regr_slope(CAST(l_extendedprice AS DOUBLE),
                                CAST(l_quantity AS DOUBLE)), 6) AS slope,
               round(regr_intercept(CAST(l_extendedprice AS DOUBLE),
                                    CAST(l_quantity AS DOUBLE)), 6)
                   AS intercept,
               round(regr_r2(CAST(l_extendedprice AS DOUBLE),
                             CAST(l_quantity AS DOUBLE)), 6) AS r2,
               CAST(regr_count(CAST(l_extendedprice AS DOUBLE),
                               CAST(l_quantity AS DOUBLE)) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    """


def q_rank_uniform(spark, sf_dir) -> DataFrame:
    """Rank-based uniform quantile transform (scaling.rank_transform):
    o_totalprice -> tie-averaged midrank / n in (0, 1] — one distinct-
    value agg, the bucket prefix-sum, a distinct-sized join back; never
    ranks row data."""
    from eland_spark.operators.scaling import rank_transform

    o = _t(spark, sf_dir, "orders", "o_orderkey").to_spark()
    out = rank_transform(
        o.select("o_orderkey", "o_totalprice"), "o_totalprice"
    )
    return out.select("o_orderkey", "o_totalprice", "o_totalprice_q")


def _rank_uniform_oracle_sql() -> str:
    return """
        WITH per AS (
            SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS n
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND NOT isnan(CAST(o_totalprice AS DOUBLE))
            GROUP BY 1
        ), m AS (
            SELECT v,
                   (sum(n) OVER (ORDER BY v) - n + (n + 1) / 2.0)
                       / (SELECT CAST(sum(n) AS DOUBLE) FROM per) AS q
            FROM per
        )
        SELECT o_orderkey, o_totalprice, m.q AS o_totalprice_q
        FROM orders LEFT JOIN m ON CAST(o_totalprice AS DOUBLE) = m.v
    """


def q_welch_ttest(spark, sf_dir) -> DataFrame:
    """Welch's unequal-variance t-test (drift.welch_ttest) between the
    F and O lineitem mean extendedprice — ONE moment agg per snapshot
    (count/mean/var_samp, mergeable partials), 1-row scalar join."""
    from eland_spark.operators.drift import welch_ttest

    li = _t(spark, sf_dir, "lineitem").to_spark()
    ref = li.where(F.col("l_linestatus") == "F")
    cur = li.where(F.col("l_linestatus") == "O")
    return welch_ttest(ref, cur, "l_extendedprice")


def _welch_ttest_oracle_sql() -> str:
    return """
        WITH r AS (
            SELECT count(*) * 1.0 AS n1, avg(l_extendedprice) AS m1,
                   var_samp(l_extendedprice) AS v1
            FROM lineitem
            WHERE l_linestatus = 'F' AND l_extendedprice IS NOT NULL
              AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
        ), c AS (
            SELECT count(*) * 1.0 AS n2, avg(l_extendedprice) AS m2,
                   var_samp(l_extendedprice) AS v2
            FROM lineitem
            WHERE l_linestatus = 'O' AND l_extendedprice IS NOT NULL
              AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
        )
        SELECT round(CASE WHEN n1 >= 2 AND n2 >= 2 AND v1/n1 + v2/n2 > 0
                          THEN (m1 - m2) / sqrt(v1/n1 + v2/n2) END, 6) AS t,
               round(CASE WHEN n1 >= 2 AND n2 >= 2 AND v1/n1 + v2/n2 > 0
                          THEN ((v1/n1 + v2/n2) * (v1/n1 + v2/n2))
                               / ((v1/n1) * (v1/n1) / (n1 - 1)
                                  + (v2/n2) * (v2/n2) / (n2 - 1)) END, 6)
                   AS df,
               round(m1, 6) AS mean_ref, round(m2, 6) AS mean_cur,
               CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur
        FROM r, c
    """


def q_rank_sum_test(spark, sf_dir) -> DataFrame:
    """Mann-Whitney U rank-sum test (drift.mann_whitney_u) between the
    F and O lineitem discount distributions — 11 distinct values, so
    midranks and the tie-corrected variance do all the work; same
    checkpointed distinct-value + bucket prefix-sum plan as drift_ks."""
    from eland_spark.operators.drift import mann_whitney_u

    li = _t(spark, sf_dir, "lineitem").to_spark()
    ref = li.where(F.col("l_linestatus") == "F")
    cur = li.where(F.col("l_linestatus") == "O")
    return mann_whitney_u(ref, cur, "l_discount")


def _rank_sum_test_oracle_sql() -> str:
    return """
        WITH rc AS (
            SELECT CAST(l_discount AS DOUBLE) AS v, count(*) AS rn
            FROM lineitem
            WHERE l_linestatus = 'F' AND l_discount IS NOT NULL
              AND NOT isnan(CAST(l_discount AS DOUBLE))
            GROUP BY 1
        ), cc AS (
            SELECT CAST(l_discount AS DOUBLE) AS v, count(*) AS cn
            FROM lineitem
            WHERE l_linestatus = 'O' AND l_discount IS NOT NULL
              AND NOT isnan(CAST(l_discount AS DOUBLE))
            GROUP BY 1
        ), j AS (
            SELECT COALESCE(rc.v, cc.v) AS v,
                   COALESCE(rn, 0) AS rn, COALESCE(cn, 0) AS cn
            FROM rc FULL OUTER JOIN cc ON rc.v = cc.v
        ), m AS (
            SELECT rn, cn, rn + cn AS t,
                   sum(rn + cn) OVER (ORDER BY v) AS cum
            FROM j
        ), a AS (
            SELECT sum(rn * ((cum - t) + (t + 1) / 2.0)) AS r1,
                   CAST(sum(rn) AS DOUBLE) AS n1,
                   CAST(sum(cn) AS DOUBLE) AS n2,
                   sum((t * 1.0) * t * t - t) AS ties
            FROM m
        )
        SELECT CASE WHEN n1 > 0 AND n2 > 0
                    THEN r1 - n1 * (n1 + 1) / 2.0 END AS u,
               round(CASE WHEN n1 > 0 AND n2 > 0
                          AND (n1 * n2 / 12.0)
                              * ((n1 + n2 + 1)
                                 - ties / ((n1 + n2) * (n1 + n2 - 1))) > 0
                          THEN (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                               / sqrt((n1 * n2 / 12.0)
                                      * ((n1 + n2 + 1)
                                         - ties / ((n1 + n2)
                                                   * (n1 + n2 - 1))))
                          END, 6) AS z,
               CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur
        FROM a
    """


def q_drift_scorecard(spark, sf_dir) -> DataFrame:
    """Both rank-based two-sample tests in ONE pass
    (drift.rank_scorecard): the exact KS sup-distance and the exact
    tie-corrected Mann-Whitney U/z between the F and O discount
    distributions share their entire scaffolding — per-snapshot
    distinct-value counts, the checkpointed full-outer count join, ONE
    bucket prefix-sum pass whose running ECDF numerators double as
    midrank inputs (cum(t) = cum(rn) + cum(cn)), one scalar agg for
    sup-distance + rank sum + tie term together. The nightly drift
    gate pays one plan instead of two."""
    from eland_spark.operators.drift import rank_scorecard

    li = _t(spark, sf_dir, "lineitem").to_spark()
    ref = li.where(F.col("l_linestatus") == "F")
    cur = li.where(F.col("l_linestatus") == "O")
    return rank_scorecard(ref, cur, "l_discount")


def _drift_scorecard_oracle_sql() -> str:
    return """
        WITH rc AS (
            SELECT CAST(l_discount AS DOUBLE) AS v, count(*) AS rn
            FROM lineitem
            WHERE l_linestatus = 'F' AND l_discount IS NOT NULL
              AND NOT isnan(CAST(l_discount AS DOUBLE))
            GROUP BY 1
        ), cc AS (
            SELECT CAST(l_discount AS DOUBLE) AS v, count(*) AS cn
            FROM lineitem
            WHERE l_linestatus = 'O' AND l_discount IS NOT NULL
              AND NOT isnan(CAST(l_discount AS DOUBLE))
            GROUP BY 1
        ), j AS (
            SELECT COALESCE(rc.v, cc.v) AS v,
                   COALESCE(rn, 0) AS rn, COALESCE(cn, 0) AS cn
            FROM rc FULL OUTER JOIN cc ON rc.v = cc.v
        ), m AS (
            SELECT rn, cn, rn + cn AS t,
                   sum(rn) OVER (ORDER BY v) AS cr,
                   sum(cn) OVER (ORDER BY v) AS cum_c,
                   sum(rn + cn) OVER (ORDER BY v) AS cum
            FROM j
        ), a AS (
            SELECT round(max(abs(cr / (SELECT CAST(sum(rn) AS DOUBLE) FROM j)
                           - cum_c / (SELECT CAST(sum(cn) AS DOUBLE) FROM j))),
                         6) AS ks,
                   sum(rn * ((cum - t) + (t + 1) / 2.0)) AS r1,
                   CAST(sum(rn) AS DOUBLE) AS n1,
                   CAST(sum(cn) AS DOUBLE) AS n2,
                   sum((t * 1.0) * t * t - t) AS ties
            FROM m
        )
        SELECT ks,
               CASE WHEN n1 > 0 AND n2 > 0
                    THEN r1 - n1 * (n1 + 1) / 2.0 END AS u,
               round(CASE WHEN n1 > 0 AND n2 > 0
                          AND (n1 * n2 / 12.0)
                              * ((n1 + n2 + 1)
                                 - ties / ((n1 + n2) * (n1 + n2 - 1))) > 0
                          THEN (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                               / sqrt((n1 * n2 / 12.0)
                                      * ((n1 + n2 + 1)
                                         - ties / ((n1 + n2)
                                                   * (n1 + n2 - 1))))
                          END, 6) AS z,
               CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur
        FROM a
    """


def q_spearman(spark, sf_dir) -> DataFrame:
    """Exact Spearman rank correlation (ranking.spearman_corr) between
    l_quantity (50 distinct values — heavy midrank ties) and
    l_extendedprice — pair counts checkpointed, per-axis midranks via
    the bucket prefix-sum, one weighted-moment scalar agg; every
    intermediate is distinct-value-sized."""
    from eland_spark.operators.ranking import spearman_corr

    li = _t(spark, sf_dir, "lineitem").to_spark()
    out = spearman_corr(li, "l_quantity", "l_extendedprice")
    return out.select(F.round("rho", 6).alias("rho"), "n")


def _spearman_oracle_sql() -> str:
    return """
        WITH base AS (
            SELECT CAST(l_quantity AS DOUBLE) AS x,
                   CAST(l_extendedprice AS DOUBLE) AS y
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
              AND NOT isnan(CAST(l_quantity AS DOUBLE))
              AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
        ), pc AS (
            SELECT x, y, count(*) AS w FROM base GROUP BY x, y
        ), px AS (
            SELECT x, sum(w) AS nx FROM pc GROUP BY x
        ), mx AS (
            SELECT x, sum(nx) OVER (ORDER BY x) - nx + (nx + 1) / 2.0 AS rx
            FROM px
        ), py AS (
            SELECT y, sum(w) AS ny FROM pc GROUP BY y
        ), my AS (
            SELECT y, sum(ny) OVER (ORDER BY y) - ny + (ny + 1) / 2.0 AS ry
            FROM py
        ), t AS (
            SELECT CAST(sum(w) AS DOUBLE) AS nt FROM pc
        ), a AS (
            SELECT sum(w * (rx - (nt + 1) / 2.0) * (ry - (nt + 1) / 2.0))
                       AS sxy,
                   sum(w * (rx - (nt + 1) / 2.0) * (rx - (nt + 1) / 2.0))
                       AS sxx,
                   sum(w * (ry - (nt + 1) / 2.0) * (ry - (nt + 1) / 2.0))
                       AS syy,
                   max(nt) AS n
            FROM pc JOIN mx USING (x) JOIN my USING (y), t
        )
        SELECT round(CASE WHEN sxx > 0 AND syy > 0
                          THEN sxy / sqrt(sxx * syy) END, 6) AS rho,
               CAST(COALESCE(n, 0) AS BIGINT) AS n
        FROM a
    """


# ---------------------------------------------------------------------------
# r7 additions: JS drift, multi-rater agreement, generation eval (BLEU),
# SCD2 change-capture intervals, MMR diversity re-ranking
# ---------------------------------------------------------------------------


def q_drift_js(spark, sf_dir) -> DataFrame:
    """Jensen-Shannon divergence (drift.js_divergence) between the F
    and O lineitem populations over l_extendedprice on the shared PSI
    bin edges — symmetric, epsilon-free, bounded in [0, ln 2]; bin
    counts in one hash agg per snapshot, the divergence one bin-sized
    scalar agg."""
    from eland_spark.operators.drift import js_divergence

    li = _t(spark, sf_dir, "lineitem").to_spark()
    ref = li.where(F.col("l_linestatus") == "F")
    cur = li.where(F.col("l_linestatus") == "O")
    return js_divergence(ref, cur, "l_extendedprice", edges=_PSI_EDGES)


def _drift_js_oracle_sql() -> str:
    e = _PSI_EDGES
    case = "CASE WHEN l_extendedprice < {lo} THEN -1 {mids} ELSE {top} END".format(
        lo=e[0],
        mids=" ".join(
            f"WHEN l_extendedprice < {e[i + 1]} THEN {i}"
            for i in range(len(e) - 1)
        ),
        top=len(e) - 1,
    )
    return f"""
        WITH rc AS (
            SELECT {case} AS bin, count(*) AS rn FROM lineitem
            WHERE l_linestatus = 'F' AND l_extendedprice IS NOT NULL
            GROUP BY 1
        ), cc AS (
            SELECT {case} AS bin, count(*) AS cn FROM lineitem
            WHERE l_linestatus = 'O' AND l_extendedprice IS NOT NULL
            GROUP BY 1
        ), j AS (
            SELECT COALESCE(rc.rn, 0) AS rn, COALESCE(cc.cn, 0) AS cn
            FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin
        ), t AS (
            SELECT CAST(COALESCE(sum(rn), 0) AS DOUBLE) AS rt,
                   CAST(COALESCE(sum(cn), 0) AS DOUBLE) AS ct
            FROM j
        ), s AS (
            SELECT sum((CASE WHEN rn > 0
                             THEN (rn / t.rt)
                                  * ln((rn / t.rt)
                                       / ((rn / t.rt + cn / t.ct) / 2.0))
                             ELSE 0.0 END
                        + CASE WHEN cn > 0
                               THEN (cn / t.ct)
                                    * ln((cn / t.ct)
                                         / ((rn / t.rt + cn / t.ct) / 2.0))
                               ELSE 0.0 END) / 2.0) AS raw,
                   max(t.rt) AS rt, max(t.ct) AS ct
            FROM j, t
        )
        SELECT round(CASE WHEN rt > 0 AND ct > 0
                          THEN greatest(raw, 0.0) END, 6) AS js,
               round(CASE WHEN rt > 0 AND ct > 0
                          THEN sqrt(greatest(raw, 0.0) / ln(2.0)) END, 6)
                   AS js_distance,
               CAST(rt AS BIGINT) AS n_ref,
               CAST(ct AS BIGINT) AS n_cur
        FROM s
    """


_FLEISS_PANEL = 3  # raters per item (first events per user by time)


def q_fleiss_kappa(spark, sf_dir) -> DataFrame:
    """Fleiss' kappa (evaluation.fleiss_kappa): users are items, each
    user's first 3 events (by ts, event_id) are 3 interchangeable
    'raters' assigning the event_type category — multi-rater
    chance-corrected agreement over crowd labels. One keyed window
    pass builds the fixed panel, then cell/item/category-sized aggs
    only."""
    from eland_spark.operators.evaluation import fleiss_kappa

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wc = Window.partitionBy("user_id")
    panel = (
        ev.where(F.col("event_type").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("__rn__"),
            F.count(F.lit(1)).over(wc).alias("__cnt__"),
        )
        .where(
            (F.col("__rn__") <= _FLEISS_PANEL)
            & (F.col("__cnt__") >= _FLEISS_PANEL)
        )
    )
    return fleiss_kappa(panel, "user_id", "event_type")


def _fleiss_kappa_oracle_sql() -> str:
    n = _FLEISS_PANEL
    return f"""
        WITH base AS (
            SELECT user_id AS item, event_type AS cat
            FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn,
                       count(*) OVER (PARTITION BY user_id) AS cnt
                FROM events WHERE event_type IS NOT NULL
            )
            WHERE rn <= {n} AND cnt >= {n}
        ), cells AS (
            SELECT item, cat, count(*) AS nij FROM base GROUP BY 1, 2
        ), items AS (
            SELECT item, sum(nij) AS nn, sum(nij * nij) AS sq
            FROM cells GROUP BY 1
        ), pb AS (
            SELECT avg((sq - nn) * 1.0 / {n * (n - 1)}) AS pbar,
                   count(*) AS n_items
            FROM items
        ), marg AS (
            SELECT cat, sum(nij) AS cj FROM cells GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(cj) AS DOUBLE) AS t FROM marg
        ), pe AS (
            SELECT sum((cj / t.t) * (cj / t.t)) AS pe FROM marg, tot t
        )
        SELECT round(CASE WHEN pe < 1.0
                          THEN (pbar - pe) / (1.0 - pe) END, 6) AS kappa,
               round(pbar, 6) AS p_bar,
               round(pe, 6) AS p_e,
               CAST(n_items AS BIGINT) AS n_items,
               CAST({n} AS BIGINT) AS n_raters
        FROM pb, pe
    """


def _next_doc_pairs(spark, sf_dir) -> DataFrame:
    """(cand, ref) pairs: each document against the NEXT doc_id in the
    same language — the deterministic skew-free pairing shared by the
    corpus_bleu / rouge_n / chrf generation-eval queries (factored r8;
    the r7 review flagged the triplication)."""
    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    d2 = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("lang").alias("__l2__"),
        F.col("text").alias("__ref__"),
    )
    return docs.join(d2, "doc_id").where(
        F.col("lang") == F.col("__l2__")
    ).select(F.col("text").alias("cand"), F.col("__ref__").alias("ref"))


def q_corpus_bleu(spark, sf_dir) -> DataFrame:
    """Corpus BLEU (evaluation.corpus_bleu) of each document against
    the NEXT doc_id in the same language (self-join on doc_id + 1 — a
    deterministic candidate/reference pairing with no skewed window):
    pooled clipped n-gram precisions, brevity penalty, unsmoothed
    BLEU. One hash agg per side keyed on the n-gram tuple."""
    from eland_spark.operators.evaluation import corpus_bleu

    pairs = _next_doc_pairs(spark, sf_dir)
    return corpus_bleu(pairs, "cand", "ref", max_n=4)


def _corpus_bleu_oracle_sql(max_n: int = 4) -> str:
    def side(tok, name):
        branches = " UNION ALL ".join(
            f"""
            SELECT pid, {n} AS n,
                   array_to_string({tok}[i:i + {n} - 1], ' ') AS g
            FROM (SELECT pid, {tok},
                         unnest(generate_series(1, len({tok}) - {n} + 1)) AS i
                  FROM pairs)
            """
            for n in range(1, max_n + 1)
        )
        return f"{name} AS (SELECT pid, n, g, count(*) AS c FROM ({branches}) GROUP BY 1, 2, 3)"

    ms = ", ".join(
        f"sum(CASE WHEN n = {n} THEN least(c, r) ELSE 0 END) AS m{n}"
        for n in range(1, max_n + 1)
    )
    ts = ", ".join(
        f"sum(CASE WHEN n = {n} THEN c ELSE 0 END) AS t{n}"
        for n in range(1, max_n + 1)
    )
    p_defs = ", ".join(
        f"CASE WHEN t{n} > 0 THEN m{n} * 1.0 / t{n} END AS p{n}"
        for n in range(1, max_n + 1)
    )
    all_pos = " AND ".join(f"p{n} > 0" for n in range(1, max_n + 1))
    log_sum = " + ".join(f"ln(p{n})" for n in range(1, max_n + 1))
    p_out = ", ".join(f"round(p{n}, 6) AS p{n}" for n in range(1, max_n + 1))
    return f"""
        WITH pairs AS (
            SELECT d.doc_id AS pid,
                   string_split_regex(trim(d.text), '\\s+') AS ct,
                   string_split_regex(trim(d2.text), '\\s+') AS rt
            FROM documents d
            JOIN documents d2 ON d2.doc_id = d.doc_id + 1
            WHERE d.lang = d2.lang
              AND d.text IS NOT NULL AND d2.text IS NOT NULL
        ), {side('ct', 'cc')}, {side('rt', 'rc')},
        j AS (
            SELECT cc.n, cc.c, COALESCE(rc.c, 0) AS r
            FROM cc LEFT JOIN rc USING (pid, n, g)
        ), st AS (
            SELECT {ms}, {ts} FROM j
        ), lens AS (
            SELECT CAST(COALESCE(sum(len(ct)), 0) AS DOUBLE) AS cl,
                   CAST(COALESCE(sum(len(rt)), 0) AS DOUBLE) AS rl
            FROM pairs
        ), ps AS (
            SELECT {p_defs}, cl, rl,
                   CASE WHEN cl >= rl THEN 1.0
                        ELSE exp(1.0 - rl / cl) END AS bp
            FROM st, lens
        )
        SELECT round(CASE WHEN cl > 0 THEN
                       CASE WHEN {all_pos}
                            THEN bp * exp(({log_sum}) / {float(max_n)})
                            ELSE 0.0 END END, 6) AS bleu,
               round(CASE WHEN cl > 0 THEN bp END, 6) AS bp,
               {p_out},
               CAST(cl AS BIGINT) AS cand_len,
               CAST(rl AS BIGINT) AS ref_len
        FROM ps
    """


def q_scd2_history(spark, sf_dir) -> DataFrame:
    """SCD type-2 interval table (scd.scd2_history) over the events
    stream: per user, maximal runs of an unchanged event_type collapse
    to (valid_from, valid_to) validity intervals (valid_to null =
    current state) — the change-data-capture layout for point-in-time
    feature joins. One shuffle on the key serves both window passes
    and the run aggregation."""
    from eland_spark.operators.scd import scd2_history

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    return scd2_history(
        ev, "user_id", "event_type", "ts", tiebreak_cols=["event_id"]
    )


def _scd2_history_oracle_sql() -> str:
    return """
        WITH flagged AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM
                             event_type
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), runs AS (
            SELECT user_id, event_type, ts,
                   sum(chg) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run
            FROM flagged
        ), grp AS (
            SELECT user_id, run, min(event_type) AS event_type,
                   min(ts) AS valid_from
            FROM runs GROUP BY user_id, run
        )
        SELECT user_id, event_type, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, run) AS valid_to
        FROM grp
    """


_MMR_K, _MMR_N, _MMR_LAM = 8, 30, 0.7


def q_mmr_rerank(spark, sf_dir) -> DataFrame:
    """MMR diversity re-ranking (similarity.mmr_rerank) of exact
    top-30 cosine candidates for 4 query vectors: greedy lam=0.7
    relevance-vs-redundancy selection of 8 per query. Candidates are
    bounded per query, so the greedy is applyInPandas per query group;
    relevance is rounded to 6dp on BOTH sides so the SQL oracle
    replays the identical selection."""
    from eland_spark.operators.similarity import knn_join, mmr_rerank

    emb = _t(spark, sf_dir, "embeddings", "vec_id")
    queries_sdf = emb.to_spark().filter(F.col("vec_id") < 4)
    cands = knn_join(emb, queries_sdf, k=_MMR_N)
    vecs = emb.to_spark().select("vec_id", "embedding")
    cand_v = vecs.join(
        F.broadcast(
            cands.select(
                "query_id", "vec_id", F.round("score", 6).alias("rel")
            )
        ),
        "vec_id",
    )
    out = mmr_rerank(
        cand_v, "query_id", "vec_id", "rel", "embedding",
        k=_MMR_K, lam=_MMR_LAM,
    )
    return out.select(
        "query_id", "vec_id",
        F.round("mmr_score", 6).alias("mmr_score"), "rnk",
    )


def _mmr_rerank_oracle_sql() -> str:
    k, n, lam = _MMR_K, _MMR_N, _MMR_LAM
    cos = (
        "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b})))"
    )
    steps = []
    for t in range(2, k + 1):
        prev = f"acc{t - 1}"
        pair_cos = cos.format(a="c2.v", b="sv.v")
        score = f"{lam} * c.rel - {1.0 - lam} * pen.mx"
        steps.append(f"""
        sel{t} AS MATERIALIZED (
            SELECT qid, id, ms, {t} AS rnk FROM (
                SELECT c.qid, c.id, {score} AS ms,
                       row_number() OVER (PARTITION BY c.qid
                                          ORDER BY {score} DESC, c.id ASC)
                           AS pr
                FROM cand c
                JOIN (
                    SELECT c2.qid, c2.id,
                           max(CASE WHEN list_dot_product(c2.v, c2.v) > 0
                                     AND list_dot_product(sv.v, sv.v) > 0
                                    THEN round({pair_cos}, 9)
                                    ELSE 0.0 END) AS mx
                    FROM cand c2
                    JOIN {prev} a ON a.qid = c2.qid
                    JOIN cand sv ON sv.qid = a.qid AND sv.id = a.id
                    GROUP BY c2.qid, c2.id
                ) pen ON pen.qid = c.qid AND pen.id = c.id
                WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                                  WHERE x.qid = c.qid AND x.id = c.id)
            ) WHERE pr = 1
        ), acc{t} AS MATERIALIZED (
            SELECT * FROM acc{t - 1} UNION ALL SELECT * FROM sel{t}
        )""")
    rel_cos = cos.format(a="e.embedding::DOUBLE[]", b="q.qv::DOUBLE[]")
    return f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qv
            FROM embeddings WHERE vec_id < 4
        ), scored AS (
            SELECT q.qid, e.vec_id AS id,
                   {rel_cos} AS s,
                   e.embedding::DOUBLE[] AS v
            FROM embeddings e, q
        ), cand AS MATERIALIZED (
            SELECT qid, id, round(s, 6) AS rel, v,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY s DESC, id ASC) AS rn
            FROM scored QUALIFY rn <= {n}
        ), sel1 AS (
            SELECT qid, id, ms, 1 AS rnk FROM (
                SELECT qid, id, {lam} * rel AS ms,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY {lam} * rel DESC, id ASC)
                           AS pr
                FROM cand
            ) WHERE pr = 1
        ), acc1 AS (
            SELECT * FROM sel1
        ),{','.join(steps)}
        SELECT qid AS query_id, id AS vec_id,
               round(ms, 6) AS mmr_score, CAST(rnk AS INT) AS rnk
        FROM acc{k}
    """


def q_pr_curve(spark, sf_dir) -> DataFrame:
    """Full precision-recall operating table (evaluation.pr_curve):
    one row per distinct n_chars threshold for the lang=='en' label —
    per-distinct-score counts in ONE hash agg, descending cumulative
    tp/fp on the windowless bucket prefix-sum pass (the auc plan),
    totals broadcast back."""
    from eland_spark.operators.evaluation import pr_curve

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    labeled = docs.where(F.col("lang").isNotNull()).select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return pr_curve(labeled, "score", "y")


def _pr_curve_oracle_sql() -> str:
    return """
        WITH base AS (
            SELECT CAST(n_chars AS DOUBLE) AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
            WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        ), per AS (
            SELECT s, count(*) AS n, sum(y) AS np FROM base GROUP BY s
        ), cum AS (
            SELECT s,
                   sum(np) OVER (ORDER BY s DESC) AS tp,
                   sum(n - np) OVER (ORDER BY s DESC) AS fp
            FROM per
        ), tot AS (
            SELECT CAST(COALESCE(sum(np), 0) AS DOUBLE) AS p FROM per
        )
        SELECT s AS threshold,
               CAST(tp AS BIGINT) AS tp,
               CAST(fp AS BIGINT) AS fp,
               round(CASE WHEN tp + fp > 0
                          THEN tp / (tp + fp * 1.0) END, 6) AS precision,
               round(CASE WHEN t.p > 0 THEN tp / t.p END, 6) AS recall,
               round(CASE WHEN tp + fp > 0 AND t.p > 0
                           AND tp / (tp + fp * 1.0) + tp / t.p > 0
                          THEN 2 * (tp / (tp + fp * 1.0)) * (tp / t.p)
                               / (tp / (tp + fp * 1.0) + tp / t.p)
                     END, 6) AS f1
        FROM cum, tot t
    """


_BATTERY_SPLIT = "2024-01-15 00:00:00"
_BATTERY_ALPHA = 0.05


def q_drift_battery(spark, sf_dir) -> DataFrame:
    """Per-feature drift battery with FDR control: exact per-event_type
    two-sample KS between the early and late halves of the events
    stream (drift.ks_battery — keyed windows on ONE key shuffle),
    asymptotic Kolmogorov p-values (pure exp arithmetic, engine-
    replayable), Benjamini-Hochberg adjustment + reject flags
    (drift.fdr_bh — distinct-p-sized prefix passes). The multiple-
    testing layer every nightly many-feature drift gate needs."""
    from eland_spark.operators.drift import fdr_bh, ks_battery

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    split = F.lit(_BATTERY_SPLIT).cast("timestamp_ntz")
    ref = ev.where(F.col("ts") < split)
    cur = ev.where(F.col("ts") >= split)
    kb = ks_battery(ref, cur, "event_type", "value")
    out = fdr_bh(kb, "p", alpha=_BATTERY_ALPHA)
    return out.select(
        "event_type", "ks", "p",
        F.round("p_adj", 6).alias("p_adj"),
        "reject", "n_ref", "n_cur",
    )


def _drift_battery_oracle_sql(terms: int = 20) -> str:
    series = " + ".join(
        f"({'+' if k % 2 == 1 else '-'}1) * exp({-2.0 * k * k} * lam * lam)"
        for k in range(1, terms + 1)
    )
    return f"""
        WITH r AS (
            SELECT event_type AS k, CAST(value AS DOUBLE) AS v
            FROM events
            WHERE ts < TIMESTAMP '{_BATTERY_SPLIT}'
              AND value IS NOT NULL AND NOT isnan(value)
        ), c AS (
            SELECT event_type AS k, CAST(value AS DOUBLE) AS v
            FROM events
            WHERE ts >= TIMESTAMP '{_BATTERY_SPLIT}'
              AND value IS NOT NULL AND NOT isnan(value)
        ), rc AS (
            SELECT k, v, count(*) AS rn FROM r GROUP BY 1, 2
        ), cc AS (
            SELECT k, v, count(*) AS cn FROM c GROUP BY 1, 2
        ), j AS (
            SELECT COALESCE(rc.k, cc.k) AS k, COALESCE(rc.v, cc.v) AS v,
                   COALESCE(rn, 0) AS rn, COALESCE(cn, 0) AS cn
            FROM rc FULL OUTER JOIN cc ON rc.k = cc.k AND rc.v = cc.v
        ), st AS (
            SELECT k,
                   sum(rn) OVER (PARTITION BY k ORDER BY v) AS crn,
                   sum(cn) OVER (PARTITION BY k ORDER BY v) AS ccn,
                   sum(rn) OVER (PARTITION BY k) AS rt,
                   sum(cn) OVER (PARTITION BY k) AS ct
            FROM j
        ), ag AS (
            SELECT k,
                   max(CASE WHEN rt > 0 AND ct > 0
                            THEN abs(crn / (rt * 1.0) - ccn / (ct * 1.0))
                       END) AS ks,
                   max(rt) AS rt, max(ct) AS ct
            FROM st GROUP BY k
        ), pv AS MATERIALIZED (
            SELECT k, round(ks, 6) AS ks_r,
                   CASE WHEN ks IS NOT NULL THEN
                       round(CASE WHEN lam < 0.16 THEN 1.0
                             ELSE least(greatest(2.0 * ({series}), 0.0),
                                        1.0) END, 6)
                   END AS p,
                   rt, ct
            FROM (
                SELECT *,
                       (sqrt(en) + 0.12 + 0.11 / sqrt(en)) * ks AS lam
                FROM (SELECT *, rt * 1.0 * ct / (rt + ct) AS en FROM ag)
            )
        ), m AS (
            SELECT count(*) AS mm FROM pv WHERE p IS NOT NULL
        ), dis AS (
            SELECT p, count(*) AS n FROM pv WHERE p IS NOT NULL GROUP BY p
        ), cj AS (
            SELECT p, sum(n) OVER (ORDER BY p) AS jj FROM dis
        ), adj AS MATERIALIZED (
            SELECT p,
                   min(least(p * (SELECT mm FROM m) / jj, 1.0))
                       OVER (ORDER BY p DESC) AS a
            FROM cj
        )
        SELECT pv.k AS event_type, pv.ks_r AS ks, pv.p,
               round(adj.a, 6) AS p_adj,
               adj.a <= {_BATTERY_ALPHA} AS reject,
               CAST(pv.rt AS BIGINT) AS n_ref,
               CAST(pv.ct AS BIGINT) AS n_cur
        FROM pv LEFT JOIN adj ON pv.p = adj.p
    """


def q_rouge_n(spark, sf_dir) -> DataFrame:
    """Corpus mean ROUGE-1/2 (evaluation.rouge_n) over the same
    deterministic doc_id -> doc_id+1 same-lang pairing as corpus_bleu
    — per-pair clipped overlaps from gram-keyed hash aggs, per-pair
    denominators from token lengths (no second gram pass), unweighted
    pair means in one scalar agg."""
    from eland_spark.operators.evaluation import rouge_n

    pairs = _next_doc_pairs(spark, sf_dir)
    return rouge_n(pairs, "cand", "ref", orders=(1, 2))


def _rouge_n_oracle_sql(orders: "tuple[int, ...]" = (1, 2)) -> str:
    def side(tok, name):
        branches = " UNION ALL ".join(
            f"""
            SELECT pid, {n} AS n,
                   array_to_string({tok}[i:i + {n} - 1], ' ') AS g
            FROM (SELECT pid, {tok},
                         unnest(generate_series(1, len({tok}) - {n} + 1)) AS i
                  FROM pairs)
            """
            for n in orders
        )
        return (
            f"{name} AS (SELECT pid, n, g, count(*) AS c "
            f"FROM ({branches}) GROUP BY 1, 2, 3)"
        )

    joins = " ".join(
        f"LEFT JOIN (SELECT pid, m AS m{n} FROM ov WHERE n = {n}) o{n} "
        f"USING (pid)"
        for n in orders
    )
    metrics = []
    outs = []
    for n in orders:
        metrics.append(f"""
            avg(CASE WHEN greatest(len(rt) - {n} + 1, 0) > 0
                     THEN COALESCE(m{n}, 0) * 1.0
                          / greatest(len(rt) - {n} + 1, 0)
                     ELSE 0.0 END) AS r{n},
            avg(CASE WHEN greatest(len(ct) - {n} + 1, 0) > 0
                     THEN COALESCE(m{n}, 0) * 1.0
                          / greatest(len(ct) - {n} + 1, 0)
                     ELSE 0.0 END) AS p{n},
            avg(CASE WHEN (CASE WHEN greatest(len(ct) - {n} + 1, 0) > 0
                                THEN COALESCE(m{n}, 0) * 1.0
                                     / greatest(len(ct) - {n} + 1, 0)
                                ELSE 0.0 END
                           + CASE WHEN greatest(len(rt) - {n} + 1, 0) > 0
                                  THEN COALESCE(m{n}, 0) * 1.0
                                       / greatest(len(rt) - {n} + 1, 0)
                                  ELSE 0.0 END) > 0
                     THEN 2 * (CASE WHEN greatest(len(ct) - {n} + 1, 0) > 0
                                    THEN COALESCE(m{n}, 0) * 1.0
                                         / greatest(len(ct) - {n} + 1, 0)
                                    ELSE 0.0 END)
                            * (CASE WHEN greatest(len(rt) - {n} + 1, 0) > 0
                                    THEN COALESCE(m{n}, 0) * 1.0
                                         / greatest(len(rt) - {n} + 1, 0)
                                    ELSE 0.0 END)
                            / ((CASE WHEN greatest(len(ct) - {n} + 1, 0) > 0
                                     THEN COALESCE(m{n}, 0) * 1.0
                                          / greatest(len(ct) - {n} + 1, 0)
                                     ELSE 0.0 END)
                               + (CASE WHEN greatest(len(rt) - {n} + 1, 0) > 0
                                       THEN COALESCE(m{n}, 0) * 1.0
                                            / greatest(len(rt) - {n} + 1, 0)
                                       ELSE 0.0 END))
                     ELSE 0.0 END) AS f{n}
        """)
        outs.append(
            f"round(r{n}, 6) AS rouge{n}_recall, "
            f"round(p{n}, 6) AS rouge{n}_precision, "
            f"round(f{n}, 6) AS rouge{n}_f1"
        )
    return f"""
        WITH pairs AS MATERIALIZED (
            SELECT d.doc_id AS pid,
                   string_split_regex(trim(d.text), '\\s+') AS ct,
                   string_split_regex(trim(d2.text), '\\s+') AS rt
            FROM documents d
            JOIN documents d2 ON d2.doc_id = d.doc_id + 1
            WHERE d.lang = d2.lang
              AND d.text IS NOT NULL AND d2.text IS NOT NULL
        ), {side('ct', 'cc')}, {side('rt', 'rc')},
        ov AS (
            SELECT pid, n, sum(least(cc.c, rc.c)) AS m
            FROM cc JOIN rc USING (pid, n, g)
            GROUP BY pid, n
        ), st AS (
            SELECT {', '.join(metrics)},
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs {joins}
        )
        SELECT {', '.join(outs)}, n_pairs FROM st
    """


def q_pit_join(spark, sf_dir) -> DataFrame:
    """Point-in-time feature lookup (scd.pit_join): second-half events
    joined to the state each user was in at event time, per the SCD2
    intervals built from the FIRST half — the leakage-free "state at
    time t" join (merge_asof backward on the key + zero-shuffle expiry
    mask), aggregated to (state, event_type) counts + value sums."""
    from eland_spark.operators.scd import pit_join, scd2_history

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    split = F.lit(_BATTERY_SPLIT).cast("timestamp_ntz")
    hist = scd2_history(
        ev.where(F.col("ts") < split),
        "user_id", "event_type", "ts", tiebreak_cols=["event_id"],
    ).withColumnRenamed("event_type", "state")
    pts = ev.where(F.col("ts") >= split).select(
        "user_id", "ts", "event_type", "value"
    )
    pj = pit_join(pts, hist, "user_id", "ts")
    return pj.groupBy("state", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _pit_join_oracle_sql() -> str:
    return f"""
        WITH flagged AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM
                             event_type
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WHERE ts < TIMESTAMP '{_BATTERY_SPLIT}'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), runs AS (
            SELECT user_id, event_type, ts,
                   sum(chg) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run
            FROM flagged
        ), grp AS (
            SELECT user_id, run, min(event_type) AS state,
                   min(ts) AS valid_from
            FROM runs GROUP BY user_id, run
        ), iv0 AS (
            SELECT user_id, state, valid_from,
                   LEAD(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY valid_from, run) AS valid_to
            FROM grp
        ), iv AS (
            -- mirror pit_join's duplicate-(key, valid_from) collapse:
            -- keep the open/latest-ending interval (the later run);
            -- the rest are zero-length [t, t) rows no point is inside
            SELECT user_id, state, valid_from, valid_to FROM iv0
            QUALIFY row_number() OVER (
                PARTITION BY user_id, valid_from
                ORDER BY (valid_to IS NULL) DESC, valid_to DESC) = 1
        ), pts AS (
            SELECT user_id, ts, event_type, value FROM events
            WHERE ts >= TIMESTAMP '{_BATTERY_SPLIT}'
        ), pj AS (
            SELECT p.event_type, p.value,
                   CASE WHEN iv.valid_to IS NULL OR p.ts < iv.valid_to
                        THEN iv.state END AS state
            FROM pts p
            ASOF LEFT JOIN iv
              ON p.user_id = iv.user_id AND p.ts >= iv.valid_from
        )
        SELECT state, event_type, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM pj GROUP BY state, event_type
    """


_UNI_L, _UNI_M, _UNI_SEED, _UNI_VOCAB, _UNI_ITERS = 4, 12, 150, 60, 2


def _unigram_seed_ctes(max_piece_len: int, max_word_len: int,
                       seed_size: int) -> str:
    """words / seed-piece CTEs shared by both unigram oracles."""
    return f"""
        words AS MATERIALIZED (
            SELECT w AS word, count(*) AS cnt FROM (
                SELECT unnest(list_filter(string_split_regex(
                           regexp_replace(lower(text), '[^a-z0-9\\s]', ' ',
                                          'g'), '\\s+'), t -> t <> '')) AS w
                FROM documents
            ) GROUP BY w
        ), words_tr AS MATERIALIZED (
            SELECT * FROM words WHERE len(word) <= {max_word_len}
        ), subs AS (
            SELECT substr(word, i, l) AS piece, cnt
            FROM (
                SELECT word, cnt, i,
                       unnest(generate_series(
                           1, least({max_piece_len}, len(word) - i + 1)
                       )) AS l
                FROM (
                    SELECT word, cnt,
                           unnest(generate_series(1, len(word))) AS i
                    FROM words_tr
                )
            )
        ), pc AS (
            SELECT piece, sum(cnt) AS n FROM subs GROUP BY piece
        ), seed_chars AS MATERIALIZED (
            SELECT piece, n FROM pc WHERE len(piece) = 1
        ), seed_multi AS (
            SELECT piece, n FROM pc WHERE len(piece) > 1
            ORDER BY n DESC, piece LIMIT {seed_size}
        ), v0 AS MATERIALIZED (
            SELECT * FROM seed_chars UNION ALL SELECT * FROM seed_multi
        )"""


def _unigram_em_ctes(t: int, vocab_cte: str, words_cte: str,
                     max_piece_len: int, max_word_len: int) -> str:
    """One hard-EM block: cost table from ``vocab_cte``, unrolled
    Viterbi DP over ``words_cte`` (integer nano-log costs, ties prefer
    the longer piece), recursive back-pointer walk, emitted-piece
    counts as ``e{t}``."""
    L = max_piece_len
    parts = [f"""
        c{t} AS MATERIALIZED (
            SELECT piece,
                   CAST(round(-ln(n / tt.tot) * 1e9) AS BIGINT) AS cost
            FROM {vocab_cte},
                 (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM {vocab_cte}) tt
        ), d{t}_0 AS (
            SELECT word, cnt, CAST(0 AS BIGINT) AS cost, 0 AS l
            FROM {words_cte}
        )"""]
    for j in range(1, max_word_len + 1):
        branches = " UNION ALL ".join(
            f"""
            SELECT p.word, p.cnt, p.cost + c.cost AS cost, {l} AS l
            FROM d{t}_{j - l} p
            JOIN c{t} c ON c.piece = substr(p.word, {j - l + 1}, {l})
            WHERE len(p.word) >= {j}
            """
            for l in range(1, min(L, j) + 1)
        )
        parts.append(f"""
        d{t}_{j} AS MATERIALIZED (
            SELECT word, cnt, cost, l FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY word ORDER BY cost ASC, l DESC) AS rn
                FROM ({branches})
            ) WHERE rn = 1
        )""")
    bk_union = " UNION ALL ".join(
        f"SELECT word, {j} AS pos, l FROM d{t}_{j}"
        for j in range(1, max_word_len + 1)
    )
    parts.append(f"""
        bk{t} AS MATERIALIZED ({bk_union}),
        wk{t} AS (
            SELECT word, cnt, CAST(len(word) AS INT) AS pos
            FROM {words_cte}
            UNION ALL
            SELECT w.word, w.cnt, CAST(w.pos - b.l AS INT)
            FROM wk{t} w JOIN bk{t} b
              ON b.word = w.word AND b.pos = w.pos
            WHERE w.pos > 0
        ),
        em{t} AS (
            SELECT w.word, w.cnt,
                   substr(w.word, w.pos - b.l + 1, b.l) AS piece
            FROM wk{t} w JOIN bk{t} b
              ON b.word = w.word AND b.pos = w.pos
            WHERE w.pos > 0
        ),
        e{t} AS MATERIALIZED (
            SELECT piece, sum(cnt) AS n FROM em{t} GROUP BY piece
        )""")
    return ",".join(parts)


def _unigram_train_ctes(iters: int) -> "tuple[str, str]":
    """(full CTE text, final vocab cte name) for ``iters`` EM rounds."""
    L, M, S = _UNI_L, _UNI_M, _UNI_SEED
    ctes = [_unigram_seed_ctes(L, M, S)]
    for t in range(iters):
        ctes.append(_unigram_em_ctes(t, f"v{t}", "words_tr", L, M))
        ctes.append(f"""
        v{t + 1} AS MATERIALIZED (
            SELECT piece, n FROM e{t} WHERE len(piece) > 1
            UNION ALL
            SELECT sc.piece, greatest(COALESCE(e.n, 0), 1) AS n
            FROM seed_chars sc
            LEFT JOIN e{t} e ON e.piece = sc.piece
        )""")
    return ",".join(ctes), f"v{iters}"


def q_unigram_train(spark, sf_dir) -> DataFrame:
    """Unigram-LM tokenizer training (operators/unigram.py): 2 rounds
    of hard (Viterbi) EM over the distinct-word table — integer
    nano-log costs make the DP exact and engine-replayable; the oracle
    replays seeding, BOTH EM rounds (unrolled DP + recursive
    back-pointer walk), the required-chars floor, and the final
    vocab_size cut as chained CTEs, like train_classifier's replayed
    gradient steps."""
    from eland_spark.operators.unigram import unigram_train

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    model = unigram_train(
        docs, F.col("text"),
        vocab_size=_UNI_VOCAB, max_piece_len=_UNI_L, seed_size=_UNI_SEED,
        iters=_UNI_ITERS, max_word_len=_UNI_M,
    )
    return spark.createDataFrame(model, "piece string, count long")


def _unigram_train_oracle_sql() -> str:
    ctes, vfinal = _unigram_train_ctes(_UNI_ITERS)
    return f"""
        WITH RECURSIVE {ctes},
        chars_f AS MATERIALIZED (
            SELECT piece, n FROM {vfinal} WHERE len(piece) = 1
        ), multi_f AS (
            SELECT piece, n FROM {vfinal} WHERE len(piece) > 1
            ORDER BY n DESC, piece
            LIMIT greatest({_UNI_VOCAB} - (SELECT count(*) FROM chars_f), 0)
        )
        SELECT piece, CAST(n AS BIGINT) AS count FROM chars_f
        UNION ALL
        SELECT piece, CAST(n AS BIGINT) AS count FROM multi_f
    """


def q_unigram_segment(spark, sf_dir) -> DataFrame:
    """Unigram Viterbi segmentation of the whole corpus under the SEED
    model (iters=0 — pure substring statistics): per-piece occurrence
    histogram, top 30 by (count desc, piece asc). The segmentation
    itself is one Arrow mapInPandas stage with the model broadcast;
    the oracle replays the same DP + walk over the distinct-word table
    and weights by word frequency."""
    from eland_spark.operators.unigram import (
        unigram_segment_frame, unigram_train,
    )

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    model = unigram_train(
        docs, F.col("text"),
        vocab_size=_UNI_VOCAB, max_piece_len=_UNI_L, seed_size=_UNI_SEED,
        iters=0, max_word_len=_UNI_M,
    )
    seg = unigram_segment_frame(
        docs, F.col("text"), model, max_piece_len=_UNI_L,
        max_word_len=_UNI_M,
    )
    return (
        seg.select(F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(30)
    )


def _unigram_segment_oracle_sql() -> str:
    L, M, S, V = _UNI_L, _UNI_M, _UNI_SEED, _UNI_VOCAB
    seed = _unigram_seed_ctes(L, M, S)
    # the engine's final cut applies to the seed model before segmenting
    model = f"""
        chars_f AS MATERIALIZED (
            SELECT piece, n FROM v0 WHERE len(piece) = 1
        ), multi_f AS (
            SELECT piece, n FROM v0 WHERE len(piece) > 1
            ORDER BY n DESC, piece
            LIMIT greatest({V} - (SELECT count(*) FROM chars_f), 0)
        ), vm AS MATERIALIZED (
            SELECT * FROM chars_f UNION ALL SELECT * FROM multi_f
        )"""
    # the DP runs over words_tr (len <= max_word_len) — the engine emits
    # one '<unk>' per OCCURRENCE of an overlong word (explicit semantic,
    # see unigram_segment_frame), which the oracle adds as a single
    # frequency-weighted row; '<' is outside the normalized charset so
    # '<unk>' can never collide with a real piece, but group anyway
    em = _unigram_em_ctes(9, "vm", "words_tr", L, M)
    return f"""
        WITH RECURSIVE {seed},{model},{em},
        e9u AS (
            SELECT piece, n FROM e9
            UNION ALL
            SELECT '<unk>' AS piece, sum(cnt) AS n
            FROM words WHERE len(word) > {M}
            HAVING sum(cnt) > 0
        )
        SELECT piece, CAST(sum(n) AS BIGINT) AS n
        FROM e9u GROUP BY piece ORDER BY n DESC, piece LIMIT 30
    """


def q_chrf(spark, sf_dir) -> DataFrame:
    """Corpus chrF (evaluation.chrf, beta=2) over the doc_id -> doc_id+1
    same-lang pairing — character 1..4-gram clipped matches pooled per
    order, whitespace stripped; the char-level complement of
    corpus_bleu/rouge_n. Same gram-keyed hash-agg shape."""
    from eland_spark.operators.evaluation import chrf

    pairs = _next_doc_pairs(spark, sf_dir)
    return chrf(pairs, "cand", "ref", max_n=4, beta=2.0)


def _chrf_oracle_sql(max_n: int = 4, beta: float = 2.0) -> str:
    def side(col, name):
        branches = " UNION ALL ".join(
            f"""
            SELECT pid, {n} AS n, substr({col}, i, {n}) AS g
            FROM (SELECT pid, {col},
                         unnest(generate_series(1, len({col}) - {n} + 1)) AS i
                  FROM pairs)
            """
            for n in range(1, max_n + 1)
        )
        return (
            f"{name} AS (SELECT pid, n, g, count(*) AS c "
            f"FROM ({branches}) GROUP BY 1, 2, 3)"
        )

    ms = ", ".join(
        f"sum(CASE WHEN n = {n} THEN least(c, r) ELSE 0 END) AS m{n}"
        for n in range(1, max_n + 1)
    )
    lens = ", ".join(
        f"CAST(COALESCE(sum(greatest(len(cs) - {n} + 1, 0)), 0) AS DOUBLE)"
        f" AS tc{n}, "
        f"CAST(COALESCE(sum(greatest(len(rs) - {n} + 1, 0)), 0) AS DOUBLE)"
        f" AS tr{n}"
        for n in range(1, max_n + 1)
    )
    p_terms = " + ".join(
        f"(CASE WHEN tc{n} > 0 THEN m{n} / tc{n} ELSE 0.0 END)"
        for n in range(1, max_n + 1)
    )
    r_terms = " + ".join(
        f"(CASE WHEN tr{n} > 0 THEN m{n} / tr{n} ELSE 0.0 END)"
        for n in range(1, max_n + 1)
    )
    b2 = beta * beta
    return f"""
        WITH pairs AS MATERIALIZED (
            SELECT d.doc_id AS pid,
                   regexp_replace(d.text, '\\s+', '', 'g') AS cs,
                   regexp_replace(d2.text, '\\s+', '', 'g') AS rs
            FROM documents d
            JOIN documents d2 ON d2.doc_id = d.doc_id + 1
            WHERE d.lang = d2.lang
              AND d.text IS NOT NULL AND d2.text IS NOT NULL
        ), cpairs AS (
            SELECT pid, cs AS s FROM pairs
        ), rpairs AS (
            SELECT pid, rs AS s FROM pairs
        ), {side('s', 'cc').replace('FROM pairs', 'FROM cpairs')},
        {side('s', 'rc').replace('FROM pairs', 'FROM rpairs')},
        j AS (
            SELECT cc.n, cc.c, COALESCE(rc.c, 0) AS r
            FROM cc LEFT JOIN rc USING (pid, n, g)
        ), st AS (
            SELECT {ms} FROM j
        ), ln AS (
            SELECT {lens},
                   CAST(COALESCE(sum(len(cs)), 0) AS BIGINT) AS cl,
                   CAST(COALESCE(sum(len(rs)), 0) AS BIGINT) AS rl
            FROM pairs
        ), pr AS (
            SELECT ({p_terms}) / {float(max_n)} AS P,
                   ({r_terms}) / {float(max_n)} AS R,
                   cl, rl
            FROM st, ln
        )
        SELECT round(CASE WHEN P + R > 0
                          THEN (1.0 + {b2}) * P * R / ({b2} * P + R)
                          ELSE 0.0 END, 6) AS chrf,
               round(P, 6) AS prec,
               round(R, 6) AS rec,
               cl AS cand_len, rl AS ref_len
        FROM pr
    """


def q_kaplan_meier(spark, sf_dir) -> DataFrame:
    """Kaplan-Meier survival curves (operators/survival.py) per user
    cohort: duration = whole hours from a user's first event to their
    first purchase (event observed) or to their last event (right-
    censored, no purchase) — the retention curve with censoring done
    right. Cohort = user_id % 3. Plan: one per-user agg, one
    per-(cohort, duration) agg, then at-risk/survival on ONE keyed
    window exchange; survival = exp(cumsum(ln)) rounded 6dp (identical
    float sequence in the oracle)."""
    from eland_spark.operators.survival import kaplan_meier

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchase_ts"),
    )
    subjects = per_user.select(
        F.concat(F.lit("c"), (F.col("user_id") % 3).cast("string")).alias(
            "cohort"
        ),
        F.floor(
            (
                F.unix_micros(
                    F.coalesce("purchase_ts", "last_ts").cast("timestamp")
                )
                - F.unix_micros(F.col("first_ts").cast("timestamp"))
            )
            / F.lit(3_600_000_000)
        ).cast("bigint").alias("duration_h"),
        F.col("purchase_ts").isNotNull().cast("int").alias("observed"),
    )
    return kaplan_meier(subjects, "duration_h", "observed", ["cohort"])


def _kaplan_meier_oracle_sql() -> str:
    return """
        WITH per_user AS (
            SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
                   min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS purchase_ts
            FROM events GROUP BY user_id
        ), subjects AS (
            SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
                   CAST(floor(epoch_us(COALESCE(purchase_ts, last_ts)
                              - first_ts) / 3600000000) AS BIGINT)
                       AS duration_h,
                   CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END
                       AS observed
            FROM per_user
        ), counts AS (
            SELECT cohort, duration_h,
                   sum(observed) AS n_event,
                   sum(1 - observed) AS n_censored
            FROM subjects GROUP BY cohort, duration_h
        ), staged AS (
            SELECT cohort, duration_h, n_event, n_censored,
                   sum(n_event + n_censored) OVER (PARTITION BY cohort)
                   - sum(n_event + n_censored) OVER (
                         PARTITION BY cohort ORDER BY duration_h
                         ROWS UNBOUNDED PRECEDING)
                   + (n_event + n_censored) AS n_risk
            FROM counts
        )
        SELECT cohort, duration_h,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(n_event AS BIGINT) AS n_event,
               CAST(n_censored AS BIGINT) AS n_censored,
               CASE WHEN sum(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END)
                         OVER (PARTITION BY cohort ORDER BY duration_h
                               ROWS UNBOUNDED PRECEDING) > 0
                    THEN 0.0
                    ELSE round(exp(sum(
                         CASE WHEN n_event = 0 THEN 0.0
                              WHEN n_event = n_risk THEN 0.0
                              ELSE ln(1.0 - n_event / n_risk) END)
                         OVER (PARTITION BY cohort ORDER BY duration_h
                               ROWS UNBOUNDED PRECEDING)), 6)
               END AS survival
        FROM staged
    """


_BLM_LAM, _BLM_FLOOR = 0.7, 0.5


def q_bigram_logppl(spark, sf_dir) -> DataFrame:
    """Interpolated bigram-LM perplexity filter (operators/ngram_lm.py)
    — the CCNet-style quality score one step up from unigram_logppl:
    train counts on even doc_ids, score odd doc_ids by mean integer
    nano-log cost (exact cross-engine sums), round 6dp."""
    from eland_spark.operators.ngram_lm import (
        bigram_lm_counts, bigram_logppl,
    )

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    train = docs.where(F.col("doc_id") % 2 == 0)
    score = docs.where(F.col("doc_id") % 2 == 1)
    uni, bi = bigram_lm_counts(train, F.col("text"))
    out = bigram_logppl(
        score, F.col("text"), F.col("doc_id"), uni, bi,
        lam=_BLM_LAM, floor_count=_BLM_FLOOR,
    )
    return out.select(F.col("id").alias("doc_id"), "n_tokens", "logppl")


def _bigram_logppl_oracle_sql() -> str:
    lam, olam, floor = _BLM_LAM, 1.0 - _BLM_LAM, _BLM_FLOOR
    tok = """
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents
    """
    return f"""
        WITH tok AS MATERIALIZED ({tok}),
        pairs AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN i = 1 THEN '<s>' ELSE l[i - 1] END AS v,
                   l[i] AS w
            FROM (SELECT doc_id, l,
                         unnest(generate_series(1, len(l))) AS i
                  FROM tok)
        ), bi AS MATERIALIZED (
            SELECT v, w, count(*) AS n FROM pairs
            WHERE doc_id % 2 = 0 GROUP BY v, w
        ), uni AS MATERIALIZED (
            SELECT w AS token, count(*) AS n FROM pairs
            WHERE doc_id % 2 = 0 GROUP BY w
        ), ctx AS (
            SELECT v, sum(n) AS cv FROM bi GROUP BY v
        ), tot AS (
            SELECT CAST(sum(n) AS DOUBLE) AS t FROM uni
        ), scored AS (
            SELECT p.doc_id,
                   CAST(round(-ln(
                       {lam!r} * (CASE WHEN c.cv IS NOT NULL
                                       THEN CAST(COALESCE(b.n, 0) AS DOUBLE)
                                            / c.cv
                                       ELSE 0.0 END)
                       + {olam!r} * (greatest(COALESCE(CAST(u.n AS DOUBLE), 0.0),
                                                {floor!r}) / tot.t)
                   ) * 1e9) AS BIGINT) AS cost
            FROM pairs p
            LEFT JOIN bi b ON b.v = p.v AND b.w = p.w
            LEFT JOIN ctx c ON c.v = p.v
            LEFT JOIN uni u ON u.token = p.w
            CROSS JOIN tot
            WHERE p.doc_id % 2 = 1
        ), per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   sum(cost) AS total
            FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               round(CAST(p.total AS DOUBLE) / p.n_tokens / 1e9, 6)
                   AS logppl
        FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
        WHERE d.doc_id % 2 = 1
    """


def q_containment_near_dup(spark, sf_dir) -> DataFrame:
    """Shingle-containment near-dup pairs (dedup.py
    containment_near_dup_pairs): the asymmetric |A∩B|/|A| overlap that
    catches short-doc-inside-long-doc copies Jaccard banding misses.
    Rare-shingle blocking (df in [2, 20]) keeps candidates linear;
    verification is fully relational (pair x shingle hash join)."""
    from eland_spark.operators.dedup import containment_near_dup_pairs

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    return containment_near_dup_pairs(
        docs, F.col("text"), F.col("doc_id"),
        threshold=0.5, k=3, max_df=20,
    )


def _containment_oracle_sql(k: int = 3, max_df: int = 20,
                            threshold: float = 0.5) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS l
            FROM documents
        ), sha AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= {k} THEN
                            [array_to_string(l[i:i+{k - 1}], ' ')
                             for i in generate_series(1, len(l) - {k - 1})]
                        WHEN len(l) > 0 THEN [array_to_string(l, ' ')]
                        ELSE [] END AS ss
            FROM toks
        ), rows_ AS MATERIALIZED (
            SELECT DISTINCT doc_id, s
            FROM (SELECT doc_id, unnest(ss) AS s FROM sha)
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM rows_ GROUP BY doc_id
        ), rare AS (
            SELECT r.doc_id, r.s FROM rows_ r
            JOIN (SELECT s FROM rows_ GROUP BY s
                  HAVING count(*) BETWEEN 2 AND {max_df}) d ON d.s = r.s
        ), cand AS MATERIALIZED (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM rare l JOIN rare r
              ON l.s = r.s AND l.doc_id < r.doc_id
        ), inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_common
            FROM cand c
            JOIN rows_ sa ON sa.doc_id = c.id_a
            JOIN rows_ sb ON sb.doc_id = c.id_b AND sb.s = sa.s
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
               round(CAST(n_common AS DOUBLE) / za.sz, 6) AS containment_a,
               round(CAST(n_common AS DOUBLE) / zb.sz, 6) AS containment_b
        FROM inter
        JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b
        WHERE greatest(round(CAST(n_common AS DOUBLE) / za.sz, 6),
                       round(CAST(n_common AS DOUBLE) / zb.sz, 6))
              >= {threshold!r}
    """


def q_k_anonymity(spark, sf_dir) -> DataFrame:
    """k-anonymity / l-diversity release audit (operators/privacy.py)
    of the events table: equivalence classes over (event_type, day),
    user_id as the sensitive attribute — one hash agg to the class
    table, class-cardinality-sized."""
    from eland_spark.operators.privacy import k_anonymity_audit

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    classes = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    return k_anonymity_audit(
        classes, ["event_type", "day"], sensitive_col="user_id", k=10, l=5
    )


def _k_anonymity_oracle_sql(k: int = 10, l: int = 5) -> str:
    return f"""
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS class_size,
               count(*) >= {k} AS is_k_anonymous,
               CAST(count(DISTINCT user_id) AS BIGINT) AS l_diversity,
               count(DISTINCT user_id) >= {l} AS is_l_diverse
        FROM events GROUP BY event_type, date_trunc('day', ts)
    """


_NEG_K, _NEG_SEED, _NEG_OVER = 5, 7, 3


def q_negative_sample(spark, sf_dir) -> DataFrame:
    """Deterministic contrastive negative sampling (sampling.py
    negative_sample): anchors = doc_ids 0..19, positives = the next
    two docs (mod N), k=5 md5-hash negatives each, anti-joined against
    the positives — bounded fan-out, no global window."""
    from eland_spark.operators.sampling import negative_sample

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    # plain +1/+2 positives (no modulo): anchors stop at 20, every
    # corpus SF has far more docs, and a wraparound modulus would have
    # to agree bit-for-bit with the oracle's span definition — a
    # divergence trap the r8 review flagged (count() != max+1 on any
    # gapped id space), plus an eager count job at plan-build time
    anchors = docs.where(F.col("doc_id") < 20).select("doc_id")
    positives = anchors.select(
        F.col("doc_id").alias("anchor"),
        (F.col("doc_id") + 1).alias("pos"),
    ).unionByName(
        anchors.select(
            F.col("doc_id").alias("anchor"),
            (F.col("doc_id") + 2).alias("pos"),
        )
    )
    return negative_sample(
        positives, docs, "anchor", "pos", "doc_id",
        k=_NEG_K, seed=_NEG_SEED, oversample=_NEG_OVER,
    )


def _negative_sample_oracle_sql() -> str:
    k, seed, over = _NEG_K, _NEG_SEED, _NEG_OVER
    return f"""
        WITH span AS (
            SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n FROM documents
        ), anchors AS (
            SELECT doc_id AS anchor FROM documents WHERE doc_id < 20
        ), positives AS (
            SELECT anchor, anchor + 1 AS pos FROM anchors
            UNION
            SELECT anchor, anchor + 2 AS pos FROM anchors
            UNION
            SELECT anchor, anchor AS pos FROM anchors
        ), draws AS (
            SELECT a.anchor, j,
                   CAST(('0x' || substr(md5(
                       CAST(a.anchor AS VARCHAR) || '|' ||
                       CAST(j AS VARCHAR) || '{seed}'), 1, 15)) AS BIGINT)
                   % s.n AS cand
            FROM anchors a
            CROSS JOIN span s
            CROSS JOIN (SELECT unnest(generate_series(0, {k * over - 1}))
                        AS j) js
        ), kept AS (
            SELECT d.anchor, d.cand, min(d.j) AS j
            FROM draws d
            JOIN documents c ON c.doc_id = d.cand
            WHERE NOT EXISTS (SELECT 1 FROM positives p
                              WHERE p.anchor = d.anchor
                                AND p.pos = d.cand)
            GROUP BY d.anchor, d.cand
        )
        SELECT anchor, CAST(cand AS BIGINT) AS neg_id,
               CAST(rk AS INT) AS slot
        FROM (SELECT anchor, cand, j,
                     row_number() OVER (PARTITION BY anchor
                                        ORDER BY j) AS rk
              FROM kept)
        WHERE rk <= {k}
    """


_FMJ_T, _FMJ_MAXDF = 0.85, 50


def q_fuzzy_title_match(spark, sf_dir) -> DataFrame:
    """Record linkage (operators/linkage.py fuzzy_match_join):
    Jaro-Winkler >= 0.85 matches between even-doc and odd-doc 'titles'
    (first 4 normalized tokens) — rare-bigram blocking + exact
    length-ratio prefilter + Arrow-batched JW verify on candidates
    only. The JW variant is pinned bit-compatible with DuckDB's
    jaro_winkler_similarity; both sides threshold the 6dp-rounded
    value."""
    from eland_spark.operators.dedup import normalized_tokens
    from eland_spark.operators.linkage import fuzzy_match_join

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    titled = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(normalized_tokens(F.col("text")), 1, 4)
        ).alias("title"),
    )
    left = titled.where(F.col("doc_id") % 2 == 0)
    right = titled.where(F.col("doc_id") % 2 == 1)
    out = fuzzy_match_join(
        left, right, "title", "title", "doc_id", "doc_id",
        threshold=_FMJ_T, max_df=_FMJ_MAXDF,
    )
    return out.select(
        F.col("lid").cast("long").alias("left_id"),
        F.col("rid").cast("long").alias("right_id"),
        "jw",
    )


def _fuzzy_title_match_oracle_sql() -> str:
    t, max_df = _FMJ_T, _FMJ_MAXDF
    jaro_min = (t - 0.4) / 0.6
    ratio_min = 3.0 * jaro_min - 2.0
    ratio_filter = (
        f"AND CAST(least(len(l.s), len(r.s)) AS DOUBLE)"
        f" / greatest(len(l.s), len(r.s)) >= {ratio_min!r}"
        if ratio_min > 0.0
        else ""
    )
    return f"""
        WITH titled AS MATERIALIZED (
            SELECT doc_id,
                   array_to_string(list_filter(string_split_regex(
                       regexp_replace(lower(text), '[^a-z0-9\\s]', ' ',
                                      'g'), '\\s+'), x -> x <> '')[1:4],
                       ' ') AS s
            FROM documents
        ), grams AS MATERIALIZED (
            SELECT doc_id, s, g FROM (
                SELECT doc_id, s,
                       unnest(CASE WHEN len(s) >= 2 THEN
                                  list_distinct([s[i:i+1]
                                   for i in generate_series(1, len(s) - 1)])
                              ELSE [s] END) AS g
                FROM titled WHERE len(s) > 0
            )
        ), rare AS (
            SELECT g FROM grams GROUP BY g
            HAVING count(*) BETWEEN 2 AND {max_df}
        ), cand AS (
            SELECT DISTINCT l.doc_id AS lid, l.s AS ls,
                            r.doc_id AS rid, r.s AS rs
            FROM (SELECT * FROM grams WHERE doc_id % 2 = 0) l
            JOIN rare u ON u.g = l.g
            JOIN (SELECT * FROM grams WHERE doc_id % 2 = 1) r
              ON r.g = l.g
            {ratio_filter}
        )
        SELECT lid AS left_id, rid AS right_id,
               round(jaro_winkler_similarity(ls, rs), 6) AS jw
        FROM cand
        WHERE round(jaro_winkler_similarity(ls, rs), 6) >= {t!r}
    """


_WQ_QS = [0.25, 0.5, 0.9]


def q_weighted_quantiles(spark, sf_dir) -> DataFrame:
    """Per-language token-weighted quantiles of document length
    (operators/percentiles.py weighted_quantiles): lower-value
    definition, integer token-count weights so cumulative sums are
    exact; one distinct-value agg + ONE keyed window + conditional-min
    assembly."""
    from eland_spark.operators.dedup import normalized_tokens
    from eland_spark.operators.percentiles import weighted_quantiles

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    wdf = docs.select(
        "lang",
        F.col("n_chars").alias("v"),
        F.size(normalized_tokens(F.col("text"))).cast("long").alias("wt"),
    )
    return weighted_quantiles(wdf, "v", "wt", _WQ_QS, ["lang"])


def _weighted_quantiles_oracle_sql() -> str:
    branches = ", ".join(
        f"min(CASE WHEN cw >= {q!r} * tw THEN v END) AS q{i}"
        for i, q in enumerate(_WQ_QS)
    )
    rows = " UNION ALL ".join(
        f"SELECT lang, {q!r} AS q, q{i} AS wq FROM wide"
        for i, q in enumerate(_WQ_QS)
    )
    return f"""
        WITH base AS (
            SELECT lang, n_chars AS v,
                   CAST(len(list_filter(string_split_regex(
                       regexp_replace(lower(text), '[^a-z0-9\\s]', ' ',
                                      'g'), '\\s+'), x -> x <> ''))
                       AS BIGINT) AS wt
            FROM documents
        ), per_val AS (
            SELECT lang, v, sum(wt) AS w FROM base
            WHERE v IS NOT NULL AND wt > 0
            GROUP BY lang, v
        ), staged AS (
            SELECT lang, v,
                   sum(w) OVER (PARTITION BY lang ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cw,
                   sum(w) OVER (PARTITION BY lang) AS tw
            FROM per_val
        ), wide AS (
            SELECT lang, {branches} FROM staged GROUP BY lang
        )
        {rows}
    """


_LPA_ITERS = 3


def q_label_propagation(spark, sf_dir) -> DataFrame:
    """Synchronous label-propagation communities (graph.py
    label_propagation, Raghavan et al. 2007) on the part<->supplier
    graph: 3 deterministic rounds (ties to the smallest label), then
    community sizes — the density-sensitive complement of
    connected-components clustering. Oracle replays the same unrolled
    rounds."""
    from eland_spark.operators.graph import label_propagation

    labels = label_propagation(
        _part_supplier_edges(spark, sf_dir), iterations=_LPA_ITERS
    )
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    ).select(
        _graph_node_label(F.col("label")).alias("community"), "size"
    )


def _label_propagation_oracle_sql() -> str:
    k = _LPA_ITERS
    parts = ["""
        WITH e0 AS (
            SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
            FROM lineitem
        ), sym AS MATERIALIZED (
            SELECT u, v FROM e0
            UNION
            SELECT v AS u, u AS v FROM e0
        ), n AS MATERIALIZED (
            SELECT DISTINCT u AS node FROM sym
        ), l0 AS MATERIALIZED (
            SELECT node, node AS label FROM n
        )"""]
    for t in range(1, k + 1):
        parts.append(f"""
        c{t} AS (
            SELECT s.u AS node, l.label AS cand, count(*) AS cnt
            FROM sym s JOIN l{t - 1} l ON l.node = s.v
            GROUP BY s.u, l.label
        ), l{t} AS MATERIALIZED (
            SELECT node, cand AS label FROM (
                SELECT node, cand, row_number() OVER (
                    PARTITION BY node ORDER BY cnt DESC, cand ASC) AS rn
                FROM c{t}
            ) WHERE rn = 1
        )""")
    return ",".join(parts) + f"""
        SELECT CASE WHEN label % 2 = 0 THEN 'p' || CAST(label // 2 AS VARCHAR)
                    ELSE 's' || CAST((label - 1) // 2 AS VARCHAR) END
                   AS community,
               CAST(count(*) AS BIGINT) AS size
        FROM l{k} GROUP BY label
    """


_RW_LEN, _RW_SEED = 3, 11


def q_random_walks(spark, sf_dir) -> DataFrame:
    """Deterministic pseudo-random walks (graph.py random_walks):
    md5-argmin neighbor choice — a uniform pick under ideal hashing,
    reproducible on any engine — 3 steps from the 10 lowest part
    nodes over the part<->supplier graph; the positive-pair generator
    that pairs with negative_sample for contrastive data."""
    from eland_spark.operators.graph import random_walks

    edges = _part_supplier_edges(spark, sf_dir)
    starts = (
        edges.select(F.col("src").alias("s"))
        .where((F.col("s") % 2 == 0) & (F.col("s") < 20))
        .distinct()
    )
    out = random_walks(
        edges, starts, length=_RW_LEN, seed=_RW_SEED
    )
    return out.select(
        _graph_node_label(F.col("walk")).alias("walk"),
        F.col("step"),
        _graph_node_label(F.col("node")).alias("node"),
    )


def _random_walks_oracle_sql() -> str:
    seed, k = _RW_SEED, _RW_LEN
    parts = ["""
        WITH fwd AS (
            SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
            FROM lineitem
        ), e AS MATERIALIZED (
            SELECT u, v FROM fwd UNION SELECT v, u FROM fwd
        ), w0 AS (
            SELECT u AS walk, u AS node FROM (
                SELECT DISTINCT u FROM e WHERE u % 2 = 0 AND u < 20
            )
        )"""]
    sel = ["SELECT walk, 0 AS step, node FROM w0"]
    for t in range(1, k + 1):
        key = (
            f"CAST(('0x' || substr(md5(CAST(f.node AS VARCHAR) || '|{t}|'"
            f" || CAST(e.v AS VARCHAR) || '{seed}'), 1, 15)) AS BIGINT)"
        )
        parts.append(f"""
        w{t} AS MATERIALIZED (
            SELECT f.walk, min_by(e.v, {key}) AS node
            FROM w{t - 1} f JOIN e ON e.u = f.node
            GROUP BY f.walk
        )""")
        sel.append(f"SELECT walk, {t} AS step, node FROM w{t}")
    lbl = (
        "CASE WHEN {c} % 2 = 0 THEN 'p' || CAST({c} // 2 AS VARCHAR) "
        "ELSE 's' || CAST(({c} - 1) // 2 AS VARCHAR) END"
    )
    return (
        ",".join(parts)
        + f""", allsteps AS ({' UNION ALL '.join(sel)})
        SELECT {lbl.format(c='walk')} AS walk, CAST(step AS INT) AS step,
               {lbl.format(c='node')} AS node
        FROM allsteps
    """
    )


def q_forecast_metrics(spark, sf_dir) -> DataFrame:
    """Forecast scorecard (evaluation.py forecast_metrics): sMAPE /
    MAE / MASE per event_type for a 2-point-moving-average forecast of
    the value series (ordered by event_id) — per-row terms quantized
    to integer nanos so cross-engine sums are exact."""
    from pyspark.sql import Window

    from eland_spark.operators.evaluation import forecast_metrics

    ev = _t(spark, sf_dir, "events", "event_id").to_spark()
    w = Window.partitionBy("event_type").orderBy(F.col("event_id").asc())
    staged = ev.select(
        "event_type",
        "event_id",
        "value",
        (
            (F.lag("value", 1).over(w) + F.lag("value", 2).over(w))
            / F.lit(2.0)
        ).alias("pred"),
    )
    return forecast_metrics(
        staged, "value", "pred", "event_id", ["event_type"]
    )


def _forecast_metrics_oracle_sql() -> str:
    return """
        WITH staged AS (
            SELECT event_type, event_id, value AS a,
                   (lag(value, 1) OVER w + lag(value, 2) OVER w) / 2.0
                       AS p,
                   lag(value, 1) OVER w AS prev
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id ASC)
        ), terms AS (
            SELECT event_type,
                   a IS NOT NULL AND p IS NOT NULL AS bp,
                   CASE WHEN a IS NOT NULL AND p IS NOT NULL THEN
                        CAST(round((CASE WHEN abs(a) + abs(p) > 0
                                  THEN 2.0 * abs(a - p) / (abs(a) + abs(p))
                                  ELSE 0.0 END) * 1000000000.0) AS BIGINT)
                   END AS sterm,
                   CASE WHEN a IS NOT NULL AND p IS NOT NULL THEN
                        CAST(round(abs(a - p) * 1000000000.0) AS BIGINT)
                   END AS aterm,
                   CASE WHEN a IS NOT NULL AND prev IS NOT NULL THEN
                        CAST(round(abs(a - prev) * 1000000000.0) AS BIGINT)
                   END AS nterm
            FROM staged
        ), agg AS (
            SELECT event_type,
                   CAST(count(CASE WHEN bp THEN 1 END) AS BIGINT) AS n,
                   sum(sterm) AS ss, sum(aterm) AS sa,
                   sum(nterm) AS sn, count(nterm) AS nn
            FROM terms GROUP BY event_type
        )
        SELECT event_type, n,
               round(CAST(ss AS DOUBLE) / n / 1000000000.0, 6) AS smape,
               round(CAST(sa AS DOUBLE) / n / 1000000000.0, 6) AS mae,
               CASE WHEN nn > 0 AND sn > 0
                    THEN round((CAST(sa AS DOUBLE) / n)
                               / (CAST(sn AS DOUBLE) / nn), 6)
               END AS mase
        FROM agg
    """


_SC_RATE, _SC_SPAN, _SC_SEED = 0.15, 3, 5


def q_span_corrupt(spark, sf_dir) -> DataFrame:
    """T5-style span corruption (operators/augment.py span_corrupt):
    deterministic md5-driven span masking over the documents corpus —
    (input, target) pretraining-pair materialization, byte-reproducible
    on any engine. One posexplode + doc-keyed windows on ONE exchange
    + per-doc assembly."""
    from eland_spark.operators.augment import span_corrupt

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    out = span_corrupt(
        docs, F.col("text"), F.col("doc_id"),
        mask_rate=_SC_RATE, mean_span=_SC_SPAN, seed=_SC_SEED,
    )
    return out.select(
        F.col("id").alias("doc_id"), "input_text", "target_text",
        "n_tokens", "n_masked", "n_spans",
    )


def _span_corrupt_oracle_sql() -> str:
    seed, mean_span = _SC_SEED, _SC_SPAN
    p_start = int(round(_SC_RATE / _SC_SPAN * 1_000_000))
    span_mod = 2 * mean_span - 1
    h = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || "
        "CAST(pos AS VARCHAR) || '{suf}'), 1, 15)) AS BIGINT)"
    )
    h_start = h.format(suf=str(seed))
    h_len = h.format(suf=f"|L{seed}")
    return f"""
        WITH tok AS (
            SELECT doc_id, i - 1 AS pos, l[i] AS tok
            FROM (
                SELECT doc_id,
                       list_filter(string_split_regex(regexp_replace(
                           lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+'), t -> t <> '') AS l
                FROM documents
            ), LATERAL (SELECT unnest(generate_series(1, len(l))) AS i)
        ), marks AS (
            SELECT doc_id, pos, tok,
                   ({h_start} % 1000000) < {p_start} AS st,
                   1 + ({h_len} % {span_mod}) AS sl
            FROM tok
        ), cov AS (
            SELECT doc_id, pos, tok,
                   COALESCE(max(CASE WHEN st THEN pos + sl END) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {span_mod - 1} PRECEDING
                                AND CURRENT ROW) > pos, FALSE) AS m
            FROM marks
        ), runs AS (
            SELECT doc_id, pos, tok, m,
                   m AND NOT COALESCE(
                       lag(m) OVER (PARTITION BY doc_id ORDER BY pos),
                       FALSE) AS rs
            FROM cov
        ), numbered AS (
            SELECT doc_id, pos, tok, m, rs,
                   sum(CASE WHEN rs THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) - 1 AS k
            FROM runs
        ), pieces AS (
            SELECT doc_id, pos, m, rs,
                   CASE WHEN NOT m THEN tok
                        WHEN rs THEN '<extra_id_' || CAST(k AS VARCHAR)
                                     || '>' END AS ip,
                   CASE WHEN m AND rs THEN '<extra_id_'
                            || CAST(k AS VARCHAR) || '> ' || tok
                        WHEN m THEN tok END AS tp
            FROM numbered
        ), per_doc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_masked,
                   CAST(sum(CASE WHEN rs THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_spans,
                   COALESCE(string_agg(ip, ' ' ORDER BY pos), '')
                       AS input_text,
                   string_agg(tp, ' ' ORDER BY pos) AS tgt
            FROM pieces GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.input_text, '') AS input_text,
               CASE WHEN COALESCE(p.n_spans, 0) > 0
                    THEN p.tgt || ' <extra_id_'
                         || CAST(p.n_spans AS VARCHAR) || '>'
                    ELSE '<extra_id_0>' END AS target_text,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               COALESCE(p.n_masked, 0) AS n_masked,
               COALESCE(p.n_spans, 0) AS n_spans
        FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """


def q_trimmed_stats(spark, sf_dir) -> DataFrame:
    """Outlier-robust per-language location/scale (operators/scaling.py
    trimmed_stats): 10%-trimmed mean/std of document length — rank +
    ordered prefix sums on ONE keyed window exchange."""
    from eland_spark.operators.scaling import trimmed_stats

    docs = _t(spark, sf_dir, "documents", "doc_id").to_spark()
    return trimmed_stats(
        docs.select("lang", "n_chars"), "n_chars", ["lang"], trim=0.1
    )


def _trimmed_stats_oracle_sql(trim: float = 0.1) -> str:
    return f"""
        WITH ranked AS (
            SELECT lang, CAST(n_chars AS DOUBLE) AS v,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars ASC) AS rk,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents WHERE n_chars IS NOT NULL
        ), kept AS (
            SELECT lang, v, n, rk FROM ranked
            WHERE rk > CAST(floor({trim!r} * n) AS BIGINT)
              AND rk <= n - CAST(floor({trim!r} * n) AS BIGINT)
        ), pre AS (
            -- mirror the engine's rank-ordered cumulative sums (the
            -- fixed-float-sequence contract) instead of unordered
            -- aggregate sums, so fractional values cannot drift
            SELECT lang, n, rk,
                   sum(v) OVER w AS cs,
                   sum(v * v) OVER w AS css
            FROM kept
            WINDOW w AS (PARTITION BY lang ORDER BY rk
                         ROWS UNBOUNDED PRECEDING)
        ), agg AS (
            SELECT lang, CAST(max(n) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_trimmed,
                   max_by(cs, rk) AS s, max_by(css, rk) AS ss
            FROM pre GROUP BY lang
        )
        SELECT lang, n, n_trimmed,
               CASE WHEN n_trimmed >= 1
                    THEN round(s / n_trimmed, 6) END AS trimmed_mean,
               CASE WHEN n_trimmed >= 2
                    THEN round(sqrt(greatest(
                         (ss - s * s / n_trimmed) / (n_trimmed - 1),
                         0.0)), 6) END AS trimmed_std
        FROM agg
    """


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "agg_matrix": q_agg_matrix,
        "skew_kurt": q_skew_kurt,
        "any_all": q_any_all,
        "groupby_diff": q_groupby_diff,
        "groupby_pct_change": q_groupby_pct_change,
        "groupby_ngroup": q_groupby_ngroup,
        "groupby_ffill": q_groupby_ffill,
        "groupby_ohlc": q_groupby_ohlc,
        "groupby_value_counts": q_groupby_value_counts,
        "groupby_ewm": q_groupby_ewm,
        "series_ewm": q_series_ewm,
        "semantic_dedup": q_semantic_dedup,
        "url_curation": q_url_curation,
        "str_methods": q_str_methods,
        "frame_order_ops": q_frame_order_ops,
        "frame_ffill": q_frame_ffill,
        "temperature_mixture": q_temperature_mixture,
        "frame_compare": q_frame_compare,
        "combine_first": q_combine_first,
        "groupby_describe": q_groupby_describe,
        "quality_classifier": q_quality_classifier,
        "dt_components": q_dt_components,
        "range_join": q_range_join,
        "rowwise_arith": q_rowwise_arith,
        "kmv_distinct": q_kmv_distinct,
        "bloom_membership": q_bloom_membership,
        "cms_freq": q_cms_freq,
        "rollup_hypertable": q_rollup_hypertable,
        "groupby_sample": q_groupby_sample,
        "str_cat": q_str_cat,
        "groupby_corr": q_groupby_corr,
        "sample_quantile_sketch": q_sample_quantile_sketch,
        "median_quantile": q_median_quantile,
        "mad": q_mad,
        "mode_ties": q_mode_ties,
        "value_counts": q_value_counts,
        "nunique": q_nunique,
        "idx_extremes": q_idx_extremes,
        "count_nonnull": q_count_nonnull,
        "describe": q_describe,
        "hist": q_hist,
        "groupby_multi": q_groupby_multi,
        "groupby_transform": q_groupby_transform,
        "groupby_series_key": q_groupby_series_key,
        "groupby_head": q_groupby_head,
        "cut_buckets": q_cut_buckets,
        "duplicated_flags": q_duplicated_flags,
        "near_dup_components": q_near_dup_components,
        "leakage_safe_split": q_leakage_safe_split,
        "near_dup_components_md5": q_near_dup_components_md5,
        "decontaminate": q_decontaminate,
        "contamination_overlap": q_contamination_overlap,
        "hybrid_search": q_hybrid_search,
        "dup_spans": q_dup_spans,
        "wordpiece": q_wordpiece,
        "snapshot_diff": q_snapshot_diff,
        "perplexity": q_perplexity,
        "ppl_buckets": q_ppl_buckets,
        "elementwise_frame": q_elementwise_frame,
        "groupby_first_last": q_groupby_first_last,
        "concat_frames": q_concat_frames,
        "concat_frames_axis1": q_concat_frames_axis1,
        "pack_invariants": q_pack_invariants,
        "str_extractall": q_str_extractall,
        "gapfill_locf": q_gapfill_locf,
        "gapfill_interp": q_gapfill_interp,
        "es_knn": q_es_knn,
        "json_normalize": q_json_normalize,
        "merge_ordered": q_merge_ordered,
        "pca_invariants": q_pca_invariants,
        "frame_apply": q_frame_apply,
        "applymap": q_applymap,
        "series_stats": q_series_stats,
        "cap_per_domain": q_cap_per_domain,
        "token_budget_sample": q_token_budget_sample,
        "boilerplate": q_boilerplate,
        "curation_pipeline": q_curation_pipeline,
        "series_shift": q_series_shift,
        "series_diff": q_series_diff,
        "series_cumsum": q_series_cumsum,
        "interpolate_gaps": q_interpolate_gaps,
        "stack_long": q_stack_long,
        "series_cumprod": q_series_cumprod,
        "events_time_window": q_events_time_window,
        "series_cummax": q_series_cummax,
        "groupby_cumsum": q_groupby_cumsum,
        "groupby_shift": q_groupby_shift,
        "groupby_cumcount": q_groupby_cumcount,
        "rolling_global_sum": q_rolling_global_sum,
        "expanding_mean": q_expanding_mean,
        "groupby_rolling": q_groupby_rolling,
        "groupby_rank": q_groupby_rank,
        "rolling_global_min": q_rolling_global_min,
        "redact_pii": q_redact_pii,
        "train_val_split": q_train_val_split,
        "weighted_sample": q_weighted_sample,
        "pack_documents": q_pack_documents,
        "pack_documents_seq": q_pack_documents_seq,
        "hll_distinct": q_hll_distinct,
        "embed_quantize": q_embed_quantize,
        "asof_join": q_asof_join,
        "asof_join_nearest": q_asof_join_nearest,
        "rolling_window": q_rolling_window,
        "resample_6h": q_resample_6h,
        "series_rank": q_series_rank,
        "groupby_quantile": q_groupby_quantile,
        "groupby_datetime": q_groupby_datetime,
        "groupby_timestamp_mean": q_groupby_timestamp_mean,
        "rollup": q_rollup,
        "cube": q_cube,
        "filter_chain": q_filter_chain,
        "filter_col_vs_col": q_filter_col_vs_col,
        "filter_rlike_startswith": q_filter_rlike_startswith,
        "query_expr": q_query_expr,
        "arithmetic": q_arithmetic,
        "string_concat": q_string_concat,
        "scalar_functions": q_scalar_functions,
        "es_date_parse": q_es_date_parse,
        "es_match_fuzzy": q_es_match_fuzzy,
        "es_query_dsl": q_es_query_dsl,
        "query_string": q_query_string,
        "json_extract": q_json_extract,
        "case_when": q_case_when,
        "head": q_head,
        "tail": q_tail,
        "sort_topk": q_sort_topk,
        "sample_deterministic": q_sample_deterministic,
        "distinct": q_distinct,
        "join_orders_customer": q_join_orders_customer,
        "join_multi_hop": q_join_multi_hop,
        "top_orders": q_top_orders,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "union_except_intersect": q_union_except_intersect,
        "window_topk_per_group": q_window_topk_per_group,
        "window_running_sum": q_window_running_sum,
        "window_lag": q_window_lag,
        "sessionize": q_sessionize,
        "events_tumbling": q_events_tumbling,
        "melt_unpivot": q_melt_unpivot,
        "global_rank_topk": q_global_rank_topk,
        "corr_matrix": q_corr_matrix,
        "pivot_status": q_pivot_status,
        "events_sliding": q_events_sliding,
        "groupby_mode": q_groupby_mode,
        "groupby_idxmax": q_groupby_idxmax,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "text_repetition": q_text_repetition,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "ann_bruteforce": q_ann_bruteforce,
        "maxsim": q_maxsim,
        "cluster_metrics": q_cluster_metrics,
        "corpus_manifest": q_corpus_manifest,
        "knn_join": q_knn_join,
        "embedding_norms": q_embedding_norms,
        "minhash_near_dup": q_minhash_near_dup,
        "minhash_near_dup_md5": q_minhash_near_dup_md5,
        "simhash": q_simhash,
        "simhash_md5": q_simhash_md5,
        "ngram_jaccard": q_ngram_jaccard,
        "ml_tree_score": q_ml_tree_score,
        "ltr_features": q_ltr_features,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_pipeline": q_multimodal_pipeline,
        "multimodal_pipeline_md5": q_multimodal_pipeline_md5,
        "tfidf_topk": q_tfidf_topk,
        "bm25_topk": q_bm25_topk,
        "explode_embeddings": q_explode_embeddings,
        "salted_join": q_salted_join,
        "two_phase_distinct": q_two_phase_distinct,
        "embed_topk": q_embed_topk,
        "nlp_expansion": q_nlp_expansion,
        "nlp_classify": q_nlp_classify,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_quantized": q_ann_ivf_quantized,
        "ann_ivf_quantized_seeded": q_ann_ivf_quantized_seeded,
        "text_advanced": q_text_advanced,
        "vocabulary": q_vocabulary,
        "shard_by_budget": q_shard_by_budget,
        "zorder_cluster": q_zorder_cluster,
        "allocate_budget": q_allocate_budget,
        "bpe_train": q_bpe_train,
        "bpe_segment": q_bpe_segment,
        "simhash_near_dup": q_simhash_near_dup,
        "simhash_near_dup_md5": q_simhash_near_dup_md5,
        "stratified_sample": q_stratified_sample,
        "mixture_sample": q_mixture_sample,
        "sample_exact_n": q_sample_exact_n,
        "ann_ivf_partitioned": q_ann_ivf_partitioned,
        "embed_dedup": q_embed_dedup,
        "chunk_chars": q_chunk_chars,
        "chunk_tokens": q_chunk_tokens,
        "embedding_covariance": q_embedding_covariance,
        "random_projection": q_random_projection,
        "embedding_pca": q_embedding_pca,
        "standardized": q_standardized,
        "quantile_normalize": q_quantile_normalize,
        "winsorized": q_winsorized,
        "cross_near_dup": q_cross_near_dup,
        "incremental_near_dup": q_incremental_near_dup,
        "freq_tokens": q_freq_tokens,
        "geo_query": q_geo_query,
        "interval_overlap": q_interval_overlap,
        "more_like_this": q_more_like_this,
        "dedup_keep_best": q_dedup_keep_best,
        "temperature_oversample": q_temperature_oversample,
        "dedup_within_doc": q_dedup_within_doc,
        "segment_dedup": q_segment_dedup,
        "gopher_quality": q_gopher_quality,
        "c4_rules": q_c4_rules,
        "dsir_select": q_dsir_select,
        "pack_assemble": q_pack_assemble,
        "scaled_robust": q_scaled_robust,
        "chunk_paragraphs": q_chunk_paragraphs,
        "corpus_profile": q_corpus_profile,
        "train_classifier": q_train_classifier,
        "rollup_topk": q_rollup_topk,
        "ann_pq": q_ann_pq,
        "quality_suite": q_quality_suite,
        "profile_table": q_profile_table,
        "pagerank": q_pagerank,
        "graph_degrees": q_graph_degrees,
        "editdist_near_dup": q_editdist_near_dup,
        "rolling_zscore": q_rolling_zscore,
        "wide_to_long": q_wide_to_long,
        "funnel": q_funnel,
        "funnel_skew_safe": q_funnel_skew_safe,
        "reindex": q_reindex,
        "reindex_ffill": q_reindex_ffill,
        "align_outer": q_align_outer,
        "rolling_apply": q_rolling_apply,
        "rolling_corr": q_rolling_corr,
        "groupby_rolling_apply": q_groupby_rolling_apply,
        "frame_expanding": q_frame_expanding,
        "cohort_retention": q_cohort_retention,
        "get_dummies": q_get_dummies,
        "funnel_chains": q_funnel_chains,
        "time_weighted_avg": q_time_weighted_avg,
        "counter_rate": q_counter_rate,
        "pagerank_personalized": q_pagerank_personalized,
        "frame_rolling": q_frame_rolling,
        "drift_psi": q_drift_psi,
        "eval_auc": q_eval_auc,
        "eval_confusion": q_eval_confusion,
        "rank_metrics": q_rank_metrics,
        "calibration": q_calibration,
        "cohens_kappa": q_cohens_kappa,
        "drift_ks": q_drift_ks,
        "assoc_lang_source": q_assoc_lang_source,
        "welch_ttest": q_welch_ttest,
        "rank_sum_test": q_rank_sum_test,
        "drift_scorecard": q_drift_scorecard,
        "spearman": q_spearman,
        "rolling_quantile": q_rolling_quantile,
        "rank_uniform": q_rank_uniform,
        "groupby_rolling_quantile": q_groupby_rolling_quantile,
        "rolling_skew_kurt": q_rolling_skew_kurt,
        "acf": q_acf,
        "expanding_skew_kurt": q_expanding_skew_kurt,
        "linear_fit": q_linear_fit,
        "groupby_linear_fit": q_groupby_linear_fit,
        "groupby_rolling_skew": q_groupby_rolling_skew,
        "ewm_std": q_ewm_std,
        "groupby_ewm_std": q_groupby_ewm_std,
        "groupby_ewm_wide": q_groupby_ewm_wide,
        "seasonal_decompose": q_seasonal_decompose,
        "drift_js": q_drift_js,
        "fleiss_kappa": q_fleiss_kappa,
        "corpus_bleu": q_corpus_bleu,
        "scd2_history": q_scd2_history,
        "mmr_rerank": q_mmr_rerank,
        "pr_curve": q_pr_curve,
        "drift_battery": q_drift_battery,
        "rouge_n": q_rouge_n,
        "pit_join": q_pit_join,
        "unigram_train": q_unigram_train,
        "unigram_segment": q_unigram_segment,
        "chrf": q_chrf,
        "kaplan_meier": q_kaplan_meier,
        "bigram_logppl": q_bigram_logppl,
        "containment_near_dup": q_containment_near_dup,
        "k_anonymity": q_k_anonymity,
        "negative_sample": q_negative_sample,
        "fuzzy_title_match": q_fuzzy_title_match,
        "weighted_quantiles": q_weighted_quantiles,
        "label_propagation": q_label_propagation,
        "random_walks": q_random_walks,
        "forecast_metrics": q_forecast_metrics,
        "span_corrupt": q_span_corrupt,
        "trimmed_stats": q_trimmed_stats,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "agg_matrix": """
            SELECT round(min(l_quantity), 2) AS min_qty,
                   round(max(l_quantity), 2) AS max_qty,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(stddev_samp(l_quantity), 6) AS std_qty,
                   round(var_samp(l_quantity), 6) AS var_qty,
                   count(l_quantity) AS count_qty,
                   count(DISTINCT l_partkey) AS nunique_partkey,
                   round(min(l_extendedprice), 2) AS min_price,
                   round(max(l_extendedprice), 2) AS max_price,
                   min(l_shipdate) AS min_shipdate,
                   max(l_shipdate) AS max_shipdate
            FROM lineitem
        """,
        "skew_kurt": """
            SELECT l_returnflag,
                   round(skewness(l_quantity), 6) AS skew_qty,
                   round(kurtosis(l_quantity), 6) AS kurt_qty,
                   round(skewness(l_discount), 6) AS skew_disc,
                   round(log10(product(1 + l_discount)), 4) AS log_prod_disc
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "groupby_diff": """
            SELECT o_orderkey,
                   round(o_totalprice - lag(o_totalprice) OVER (
                       PARTITION BY o_orderstatus ORDER BY o_orderkey), 2) AS d_price
            FROM orders
        """,
        "groupby_pct_change": """
            SELECT o_orderkey,
                   round(o_totalprice / lag(o_totalprice) OVER (
                       PARTITION BY o_orderstatus ORDER BY o_orderkey) - 1, 6) AS pct_price
            FROM orders
        """,
        "groupby_ngroup": """
            SELECT o_orderkey,
                   dense_rank() OVER (ORDER BY o_orderstatus) - 1 AS ngroup
            FROM orders
        """,
        "groupby_ffill": """
            SELECT o_orderkey,
                   round(last_value(CASE WHEN o_totalprice > 150000
                                         THEN o_totalprice END IGNORE NULLS)
                         OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         2) AS gap_filled
            FROM orders
        """,
        "groupby_ewm": """
            WITH p AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice,
                       row_number() OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_orderkey) AS rn
                FROM orders
            )
            SELECT a.o_orderkey,
                   round(sum(b.o_totalprice * power(0.5, a.rn - b.rn))
                         / sum(power(0.5, a.rn - b.rn)), 4) AS ewm_price
            FROM p a JOIN p b
              ON b.o_orderstatus = a.o_orderstatus
             AND b.rn BETWEEN a.rn - 54 AND a.rn
            GROUP BY a.o_orderkey
        """,
        "series_ewm": """
            WITH p AS (
                SELECT o_orderkey, o_totalprice,
                       row_number() OVER (ORDER BY o_orderkey) AS rn
                FROM orders
            )
            SELECT a.o_orderkey,
                   round(sum(b.o_totalprice * power(1.0 - 2.0/21.0, a.rn - b.rn))
                         / sum(power(1.0 - 2.0/21.0, a.rn - b.rn)), 4) AS ewm_price
            FROM p a JOIN p b ON b.rn BETWEEN a.rn - 369 AND a.rn
            GROUP BY a.o_orderkey
        """,
        "groupby_ohlc": """
            SELECT o_orderpriority,
                   round(arg_min(o_totalprice, o_orderkey), 2) AS open,
                   round(max(o_totalprice), 2) AS high,
                   round(min(o_totalprice), 2) AS low,
                   round(arg_max(o_totalprice, o_orderkey), 2) AS close
            FROM orders
            GROUP BY o_orderpriority
        """,
        "groupby_value_counts": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders
            GROUP BY o_orderstatus, o_orderpriority
        """,
        "any_all": """
            SELECT o_orderpriority,
                   bool_or(o_totalprice > 400000) AS any_hi,
                   bool_and(o_totalprice > 1000) AS all_lo,
                   count(*) AS n
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "median_quantile": """
            SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
                   round(quantile_cont(l_extendedprice, 0.9), 6) AS p90
            FROM lineitem
        """,
        "mad": """
            SELECT round(quantile_cont(abs(l_quantity - m), 0.5), 6) AS mad_qty,
                   round(any_value(m), 6) AS median_qty
            FROM lineitem, (SELECT quantile_cont(l_quantity, 0.5) AS m FROM lineitem)
        """,
        "mode_ties": """
            WITH counted AS (
                SELECT l_quantity AS val, count(*) AS cnt FROM lineitem GROUP BY 1
            )
            SELECT val, cnt FROM counted WHERE cnt = (SELECT max(cnt) FROM counted)
        """,
        "value_counts": """
            SELECT o_orderpriority AS priority, count(*) AS cnt
            FROM orders GROUP BY 1
            ORDER BY cnt DESC, priority ASC LIMIT 5
        """,
        "nunique": """
            SELECT count(DISTINCT user_id) AS nunique_user,
                   count(DISTINCT event_type) AS nunique_type,
                   count(DISTINCT event_id) AS nunique_event
            FROM events
        """,
        "idx_extremes": """
            SELECT arg_max(o_orderkey, o_totalprice) AS idxmax_price,
                   arg_min(o_orderkey, o_totalprice) AS idxmin_price,
                   CAST(max(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', o_orderdate)
                        * 10000000 + o_orderkey) % 10000000 AS BIGINT) AS idxmax_date
            FROM orders
        """,
        "count_nonnull": """
            SELECT count(event_id) AS count_event_id,
                   count(ts) AS count_ts,
                   count(user_id) AS count_user_id,
                   count(value) AS count_value,
                   count(props) AS count_props
            FROM events
        """,
        "describe": """
            SELECT count(l_discount) AS cnt,
                   round(avg(l_discount), 6) AS mean,
                   round(stddev_samp(l_discount), 6) AS std,
                   round(min(l_discount), 6) AS min,
                   round(quantile_cont(l_discount, 0.25), 6) AS p25,
                   round(quantile_cont(l_discount, 0.5), 6) AS p50,
                   round(quantile_cont(l_discount, 0.75), 6) AS p75,
                   round(max(l_discount), 6) AS max
            FROM lineitem
        """,
        "hist": """
            WITH mm AS (SELECT min(l_quantity) lo, max(l_quantity) hi FROM lineitem)
            SELECT CAST(least(floor((l_quantity - lo) / ((hi - lo) / 10)), 9) AS BIGINT) AS bucket,
                   count(*) AS cnt
            FROM lineitem, mm
            GROUP BY 1
        """,
        "series_rank": """
            SELECT o_orderkey,
                   CAST(RANK() OVER (ORDER BY o_custkey) AS DOUBLE) AS "rank"
            FROM orders
        """,
        "resample_6h": """
            SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 * 1000000
                                       AS BIGINT)) AS ts,
                   count(*) AS n, round(sum(value), 2) AS v
            FROM events GROUP BY 1
        """,
        "rolling_window": """
            SELECT event_id,
                   round(SUM(value) OVER w, 2) AS roll_sum,
                   CAST(COUNT(value) OVER w AS BIGINT) AS roll_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 6 HOUR PRECEDING
                                   AND CURRENT ROW)
        """,
        "asof_join": """
            SELECT l.event_id, round(r.value, 2) AS purch_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_join_nearest": """
            WITH c AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ), p AS (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ), cand AS (
                SELECT c.event_id, p.value,
                       row_number() OVER (
                           PARTITION BY c.event_id
                           ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)) ASC,
                                    (p.ts <= c.ts) DESC
                       ) AS rn
                FROM c JOIN p USING (user_id)
            )
            SELECT c.event_id, round(cd.value, 2) AS purch_value
            FROM c LEFT JOIN (SELECT event_id, value FROM cand WHERE rn = 1) cd
              USING (event_id)
        """,
        "hll_distinct": """
            SELECT l_returnflag,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
            FROM lineitem GROUP BY 1
        """,
        "train_val_split": """
            WITH h AS (
              SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 10000 AS b
              FROM documents
            )
            SELECT CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n
            FROM h GROUP BY 1
        """,
        "redact_pii": """
            WITH t AS (
              SELECT c_custkey,
                     'user' || CAST(c_custkey AS VARCHAR) || '@example.com ip 10.0.'
                     || CAST(c_custkey % 256 AS VARCHAR) || '.7 call 212-555-'
                     || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS txt
              FROM customer
            )
            SELECT c_custkey,
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(txt,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '[EMAIL]', 'g'),
                      '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IPV4]', 'g'),
                    '(?:\\+\\d{1,3}[-. ]*)?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b',
                    '[PHONE]', 'g'),
                  '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
                '\\b(?:\\d[ -]*?){13,16}\\b', '[CREDIT_CARD]', 'g') AS redacted
            FROM t
        """,
        "embed_quantize": """
            WITH s AS (
              SELECT vec_id, embedding,
                     CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
              FROM (SELECT vec_id, embedding,
                           list_aggregate(list_transform(embedding, x -> abs(x)),
                                          'max') AS m
                    FROM embeddings)
            )
            SELECT vec_id,
                   round(CAST(CAST(scale AS FLOAT) AS DOUBLE), 6) AS scale_r,
                   CAST(list_aggregate(
                          list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)),
                          'sum') AS BIGINT) AS q_sum
            FROM s
        """,
        "duplicated_flags": """
            SELECT o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) > 1
                     AS duplicated
            FROM orders
        """,
        "cut_buckets": """
            SELECT CAST(CASE
                     WHEN l_extendedprice > 0 AND l_extendedprice <= 20000 THEN 0
                     WHEN l_extendedprice > 20000 AND l_extendedprice <= 40000 THEN 1
                     WHEN l_extendedprice > 40000 AND l_extendedprice <= 60000 THEN 2
                     WHEN l_extendedprice > 60000 AND l_extendedprice <= 120000 THEN 3
                   END AS BIGINT) AS bucket,
                   count(*) AS cnt,
                   round(avg(l_extendedprice), 2) AS avg_price
            FROM lineitem GROUP BY 1
        """,
        "groupby_head": """
            SELECT o_orderkey, o_orderstatus FROM (
              SELECT o_orderkey, o_orderstatus,
                     ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                        ORDER BY o_orderkey) AS rn
              FROM orders
            ) WHERE rn <= 5
        """,
        "groupby_series_key": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1
        """,
        "groupby_transform": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   round(SUM(l_quantity) OVER (PARTITION BY l_returnflag), 2) AS qty_sum
            FROM lineitem
        """,
        "groupby_multi": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(DISTINCT l_suppkey) AS nunique_supp,
                   round(stddev_samp(l_quantity), 6) AS std_qty,
                   min(l_shipdate) AS min_ship
            FROM lineitem GROUP BY 1, 2
        """,
        "groupby_quantile": """
            SELECT o_orderstatus,
                   round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
                   round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
                   round(quantile_cont(o_totalprice, 0.75), 6) AS p75
            FROM orders GROUP BY 1
        """,
        "groupby_datetime": """
            SELECT date_trunc('month', o_orderdate) AS month,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1
        """,
        "groupby_timestamp_mean": """
            SELECT l_returnflag,
                   TIMESTAMP '1970-01-01 00:00:00'
                     + to_seconds(CAST(floor(avg(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', l_shipdate))) AS BIGINT))
                     AS mean_shipdate
            FROM lineitem GROUP BY 1
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "filter_chain": """
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders
            WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'
              AND o_orderpriority IN ('1-URGENT', '2-HIGH')
              AND o_orderpriority NOT LIKE '%LOW%'
        """,
        "filter_col_vs_col": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
            FROM lineitem WHERE l_discount > l_tax
        """,
        "filter_rlike_startswith": """
            SELECT p_partkey, p_name, p_brand
            FROM part
            WHERE regexp_matches(p_name, '^p.*[03]$') OR p_brand LIKE 'Brand#1%'
        """,
        "query_expr": """
            SELECT c_custkey, c_acctbal, c_mktsegment
            FROM customer
            WHERE c_acctbal > 5000 AND c_mktsegment IN ('BUILDING', 'MACHINERY')
        """,
        "arithmetic": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_revenue,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(sum(fmod(l_quantity, 7)), 2) AS sum_qty_mod,
                   round(sum(floor(l_quantity / 7)), 2) AS sum_qty_floordiv,
                   round(sum(pow(l_quantity, 2)), 2) AS sum_qty_sq,
                   round(sum(l_extendedprice / (l_quantity + 1)), 2) AS sum_ratio
            FROM lineitem
        """,
        "string_concat": """
            SELECT n_nationkey, n_name || '_' || n_name AS tag
            FROM nation
        """,
        "scalar_functions": """
            SELECT o_orderkey,
                   upper(o_orderstatus) AS status_upper,
                   lower(o_orderpriority) AS prio_lower,
                   CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
                   substring(o_orderpriority, 1, 3) AS prio_pre,
                   CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
                   CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS order_month,
                   CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS order_day,
                   round(o_totalprice / 1000.0, 2) AS price_k
            FROM orders WHERE o_orderkey < 1000
        """,
        "es_query_dsl": """
            SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
            WHERE c_acctbal > 1000 AND c_acctbal <= 8000
              AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
              AND NOT COALESCE(starts_with(c_name, 'Customer#0000001'), FALSE)
              AND (regexp_matches(c_name, '^.*1.$')
                   OR c_mktsegment = 'MACHINERY')
        """,
        "query_string": """
            SELECT doc_id, 'query_string' AS kind FROM documents
            WHERE (regexp_matches(lower(text), '\\bspark\\b')
                   OR regexp_matches(lower(text), '\\bflink\\b'))
              AND NOT COALESCE(regexp_matches(lower(text), '\\bbatch\\b'), FALSE)
            UNION ALL
            SELECT doc_id, 'simple_qs' AS kind FROM documents
            WHERE len(list_filter(
                      string_split_regex(lower(text), '[^0-9a-z]+'),
                      w -> regexp_matches(w, '^str.*$'))) > 0
              AND regexp_matches(lower(text), '\\bstream\\s+processing\\b')
        """,
        "es_match_fuzzy": """
            SELECT doc_id, 'fuzzy_hit' AS kind FROM documents
            WHERE len(list_filter(
                      string_split_regex(lower(text), '[^0-9a-z]+'),
                      w -> w <> '' AND levenshtein(w, 'spak') <= 1)) > 0
            UNION ALL
            SELECT doc_id, 'must_not' AS kind FROM documents
            WHERE NOT COALESCE(regexp_matches(lower(text), '\\bspark\\b'), FALSE)
        """,
        "es_date_parse": """
            WITH parsed AS (
                SELECT strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS t_basic,
                       strptime(strftime(o_orderdate, '%Y-%j'), '%Y-%j') AS t_ordinal,
                       epoch_ms(epoch_ms(o_orderdate::TIMESTAMP)) AS t_epoch,
                       strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS t_chain
                FROM orders
            )
            SELECT CAST(EXTRACT(year FROM t_basic) AS BIGINT) AS y,
                   count(*) AS n,
                   min(t_ordinal) AS min_ordinal,
                   max(t_epoch) AS max_epoch,
                   count(CASE WHEN t_chain = t_basic THEN 1 END) AS n_chain_ok
            FROM parsed GROUP BY 1
        """,
        "json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
        """,
        "case_when": """
            SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                        WHEN c_acctbal < 5000 THEN 'low'
                        ELSE 'high' END AS balance_bucket,
                   count(*) AS cnt,
                   round(avg(c_acctbal), 6) AS avg_bal
            FROM customer GROUP BY 1
        """,
        "head": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
            LIMIT 20
        """,
        "tail": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
            FROM lineitem
            ORDER BY l_orderkey DESC, l_linenumber DESC, l_partkey DESC, l_suppkey DESC
            LIMIT 20
        """,
        "sort_topk": """
            SELECT o_orderkey, o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 25
        """,
        "sample_deterministic": """
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE (o_orderkey * 2654435761) % 4294967296 < 200000000
        """,
        "distinct": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "join_orders_customer": """
            SELECT c_mktsegment,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "join_multi_hop": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        """,
        "top_orders": """
            SELECT o_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY 1, 2
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "semi_join": """
            SELECT c_custkey, c_mktsegment
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        """,
        "anti_join": """
            SELECT c_custkey, c_name
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "union_except_intersect": """
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION ALL
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
            EXCEPT ALL
            (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
             INTERSECT
             SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        """,
        "window_topk_per_group": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       CAST(row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "window_running_sum": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
            FROM events WHERE user_id < 20
        """,
        "window_lag": """
            SELECT o_orderkey, o_custkey,
                   lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev_price
            FROM orders WHERE o_custkey < 100
        """,
        "sessionize": """
            WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('second', lag(ts) OVER w, ts) > 1800
                            THEN 1 ELSE 0 END AS is_new
                FROM events WHERE user_id < 30
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
                SELECT user_id, value,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM sess GROUP BY 1, 2
        """,
        "events_tumbling": """
            SELECT date_trunc('day', ts) AS day, event_type,
                   count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "melt_unpivot": """
            SELECT o_orderkey, 'o_totalprice' AS variable,
                   round(o_totalprice, 2) AS value FROM orders
            UNION ALL
            SELECT o_orderkey, 'o_custkey' AS variable,
                   round(o_custkey, 2) AS value FROM orders
        """,
        "global_rank_topk": """
            SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
                   row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey DESC) AS rnk
            FROM orders QUALIFY rnk <= 100
        """,
        "corr_matrix": """
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_l_quantity__l_extendedprice,
                   round(corr(l_quantity, l_discount), 6) AS corr_l_quantity__l_discount,
                   round(corr(l_extendedprice, l_tax), 6) AS corr_l_extendedprice__l_tax,
                   round(corr(l_discount, l_tax), 6) AS corr_l_discount__l_tax
            FROM lineitem
        """,
        "pivot_status": """
            SELECT o_orderpriority,
                   round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
                   round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
                   round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
            FROM orders GROUP BY 1
        """,
        "events_sliding": """
            SELECT to_timestamp(floor(epoch(ts) / 43200) * 43200
                                - k * 43200)::TIMESTAMP AS window_start,
                   event_type, count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events, (SELECT unnest([0, 1]) AS k)
            GROUP BY 1, 2
        """,
        "groupby_mode": """
            WITH cq AS (SELECT l_returnflag, l_quantity AS v, count(*) AS c
                        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
                 rq AS (SELECT l_returnflag, v,
                               rank() OVER (PARTITION BY l_returnflag ORDER BY c DESC) AS rk
                        FROM cq),
                 cd AS (SELECT l_returnflag, l_discount AS v, count(*) AS c
                        FROM lineitem WHERE l_discount IS NOT NULL GROUP BY 1, 2),
                 rd AS (SELECT l_returnflag, v,
                               rank() OVER (PARTITION BY l_returnflag ORDER BY c DESC) AS rk
                        FROM cd)
            SELECT q.l_returnflag, q.mode_qty, d.mode_disc
            FROM (SELECT l_returnflag, min(v) AS mode_qty FROM rq WHERE rk = 1 GROUP BY 1) q
            JOIN (SELECT l_returnflag, round(min(v), 6) AS mode_disc FROM rd WHERE rk = 1 GROUP BY 1) d
            USING (l_returnflag)
        """,
        "groupby_idxmax": """
            SELECT o.o_orderpriority, min(o.o_orderkey) AS idx_max_price
            FROM orders o
            JOIN (SELECT o_orderpriority, max(o_totalprice) AS m
                  FROM orders GROUP BY 1) t
              ON o.o_orderpriority = t.o_orderpriority AND o.o_totalprice = t.m
            GROUP BY 1
        """,
        "dedup_exact": """
            SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "text_stats": """
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS len_chars,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_unique_tokens,
                   round(CASE WHEN length(text) > 0
                         THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                         ELSE 0.0 END, 6) AS punct_ratio
            FROM documents
        """,
        "text_quality": """
            WITH per_doc AS (
                SELECT source,
                       CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0
                            THEN len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                     t -> t IN ('the', 'a', 'and', 'of', 'to'))) * 1.0
                                 / len(string_split_regex(trim(lower(text)), '\\s+'))
                            ELSE 0.0 END AS sw,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt
                FROM documents
            )
            SELECT source, round(avg(sw), 6) AS avg_stopword_ratio,
                   round(avg(nt), 6) AS avg_tokens, count(*) AS n_docs
            FROM per_doc GROUP BY 1
        """,
        "text_repetition": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(regexp_replace(text,
                           '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x <> '') AS l
                FROM documents
            ), g AS (
                SELECT doc_id, l,
                       [l[i] || ' ' || l[i+1] for i in generate_series(1, len(l)-1)] AS bi
                FROM t
            )
            SELECT doc_id,
                   CAST(len(l) AS BIGINT) AS n_words,
                   round(CASE WHEN len(l) = 0 THEN 0
                         ELSE 1.0 - len(list_distinct(l)) * 1.0 / len(l) END, 6) AS word_rep_frac,
                   round(CASE WHEN len(bi) = 0 THEN 0
                         ELSE 1.0 - len(list_distinct(bi)) * 1.0 / len(bi) END, 6) AS bigram_rep_frac,
                   round(CASE WHEN len(l) = 0 THEN 0
                         ELSE list_max(map_values(list_aggregate(l, 'histogram'))) * 1.0 / len(l) END, 6) AS top_word_frac
            FROM g
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp
            FROM documents
        """,
        "knn_join": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 4),
                 scored AS (
                   SELECT q.query_id, e.vec_id,
                          list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
                          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                             * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS s
                   FROM embeddings e, q
                 )
            SELECT query_id, vec_id, round(s, 6) AS score,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY s DESC, vec_id ASC) AS INT) AS rnk
            FROM scored QUALIFY rnk <= 5
        """,
        "maxsim": _maxsim_oracle_sql(),
        "cluster_metrics": _cluster_metrics_oracle_sql(),
        "corpus_manifest": _corpus_manifest_oracle_sql(),
        "ann_bruteforce": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cos_sim
            FROM embeddings, q
            ORDER BY list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))) DESC,
                     vec_id ASC
            LIMIT 10
        """,
        "embedding_norms": """
            SELECT label,
                   round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm,
                   round(min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS min_norm,
                   round(max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm,
                   count(*) AS n
            FROM embeddings GROUP BY 1
        """,
        "ann_ivf_partitioned": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cos_sim
            FROM embeddings, q
            ORDER BY list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))) DESC,
                     vec_id ASC
            LIMIT 10
        """,
        # sample_exact_n: xxhash64 ranking, no DuckDB twin -> rows-only
        # simhash / simhash_near_dup: xxhash64-based, no DuckDB
        # equivalent -> rows-only (intentionally omitted). Unlike
        # minhash_near_dup, the simhash PAIR SET is NOT
        # hash-independent — measured r4: hamming<=3 pair sets diverge
        # between the xxhash64 and md5 families (11 vs 16 pairs at
        # sf0.001, 11 vs 10 at sf0.01) because a 3-bit radius on 64
        # bits has no margin, so promoting it to the portable oracle
        # would be unsound. Same for ann_ivf_quantized: Lloyd
        # nprobe=3 recall < 100% at sf0.01 (vec 386 sits in an
        # unprobed cell), so a brute-force oracle would be wrong, not
        # just fragile. The md5/seeded twins remain the value-checked
        # paths; pack_invariants / pca_invariants gate the remaining
        # rows-only operators' contracts.
        "ngram_jaccard": _ngram_jaccard_oracle_sql(),
        "lang_id": """
            WITH s AS (
                SELECT lang,
                       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ('der','die','das','und','nicht','ist','ein'))) AS de,
                       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ('the','and','of','to','in','is','a'))) AS en,
                       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ('el','los','las','es','una','que','por'))) AS es,
                       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ('le','la','les','et','est','une','dans'))) AS fr,
                       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ('de5','shi4','le5','zai4','he2','you3','wo3'))) AS zh
                FROM documents
            )
            SELECT lang,
                   CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'unknown'
                        WHEN de = greatest(de,en,es,fr,zh) THEN 'de'
                        WHEN en = greatest(de,en,es,fr,zh) THEN 'en'
                        WHEN es = greatest(de,en,es,fr,zh) THEN 'es'
                        WHEN fr = greatest(de,en,es,fr,zh) THEN 'fr'
                        ELSE 'zh' END AS pred,
                   count(*) AS n
            FROM s GROUP BY 1, 2
        """,
        "ml_tree_score": """
            WITH scored AS (
                SELECT l_returnflag,
                       0.7 * (CASE WHEN l_quantity <= 25.0 THEN 1.5
                              ELSE CASE WHEN l_discount <= 0.05 THEN 2.5 ELSE 4.0 END END)
                       + 0.3 * (CASE WHEN l_discount <= 0.03 THEN 0.5
                                ELSE CASE WHEN l_quantity <= 40.0 THEN 1.0 ELSE 2.0 END END)
                       + 0.1 AS pred
                FROM lineitem
            )
            SELECT l_returnflag, round(avg(pred), 6) AS avg_pred,
                   round(sum(pred), 2) AS sum_pred, count(*) AS n
            FROM scored GROUP BY 1
        """,
        "nlp_expansion": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2
            ), r AS (
                SELECT doc_id, term, c,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, term) AS rn
                FROM tf
            )
            SELECT doc_id, term, round(ln(1 + c), 6) AS weight
            FROM r WHERE rn <= 5
        """,
        "ltr_features": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(lower(text), 'the')) AS DOUBLE) AS term_count,
                   CAST(length(text) AS DOUBLE) AS len_chars,
                   CASE WHEN contains(lower(text), 'the') THEN 1.0 ELSE 0.0 END AS has_term
            FROM documents WHERE doc_id < 25
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   doc_id % 64 + 16 AS width,
                   doc_id % 48 + 16 AS height,
                   CAST(64 AS BIGINT) AS data_len,
                   CAST(6 AS BIGINT) AS n_features
            FROM documents
        """,
        # embed_topk: md5-hashed stand-in encoder, no DuckDB equivalent
        # -> rows-only check (intentionally omitted)
        "ann_lsh": _lsh_oracle_sql(),
        "minhash_near_dup_md5": _minhash_oracle_sql(),
        # fast xxhash64 path: the thresholded PAIR SET is
        # hash-independent (tests/test_hash_portability.py), so the
        # portable pipeline's id projection is an exact oracle
        "minhash_near_dup": (
            f"SELECT id_a, id_b FROM ({_minhash_oracle_sql()}) t"
        ),
        # same argument one stage later: components are a pure function
        # of the (hash-independent) pair set
        "near_dup_components": _near_dup_components_oracle_sql(),
        "leakage_safe_split": _leakage_safe_split_oracle_sql(),
        "near_dup_components_md5": _near_dup_components_oracle_sql(),
        "embed_topk": _embed_topk_oracle_sql(),
        "nlp_classify": _nlp_classify_oracle_sql(),
        "decontaminate": _decontaminate_oracle_sql(),
        "contamination_overlap": _contamination_overlap_oracle_sql(),
        "hybrid_search": _hybrid_search_oracle_sql(),
        "perplexity": _perplexity_oracle_sql(),
        "ppl_buckets": _ppl_buckets_oracle_sql(),
        "elementwise_frame": _ELEMENTWISE_FRAME_ORACLE,
        "groupby_first_last": _GROUPBY_FIRST_LAST_ORACLE,
        "concat_frames": _CONCAT_FRAMES_ORACLE,
        "gapfill_locf": """
            WITH b AS (
                SELECT event_type,
                       make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600
                                           * 1000000 AS BIGINT)) AS bucket,
                       avg(value) AS v
                FROM events GROUP BY 1, 2
            ), span AS (
                SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                FROM b GROUP BY 1
            ), cal AS (
                SELECT event_type,
                       unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                FROM span
            )
            SELECT c.event_type, c.bucket,
                   round(last_value(b.v IGNORE NULLS) OVER (
                       PARTITION BY c.event_type ORDER BY c.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                       AS value
            FROM cal c
            LEFT JOIN b ON b.event_type = c.event_type AND b.bucket = c.bucket
        """,
        "merge_ordered": """
            WITH l AS (
                SELECT o_orderpriority, o_orderdate,
                       CAST(count(*) AS BIGINT) AS n_orders
                FROM orders WHERE o_orderdate < DATE '1992-03-01'
                GROUP BY 1, 2
            ), r AS (
                SELECT o_orderdate, round(avg(o_totalprice), 4) AS avg_price
                FROM orders WHERE o_orderdate < DATE '1992-03-01'
                GROUP BY 1
            ), rg AS (
                SELECT g.o_orderpriority, r.o_orderdate, r.avg_price
                FROM (SELECT DISTINCT o_orderpriority FROM l) g, r
            ), j AS (
                SELECT COALESCE(l.o_orderpriority, rg.o_orderpriority)
                           AS o_orderpriority,
                       COALESCE(l.o_orderdate, rg.o_orderdate) AS o_orderdate,
                       l.n_orders, rg.avg_price
                FROM l FULL OUTER JOIN rg
                  ON l.o_orderpriority = rg.o_orderpriority
                 AND l.o_orderdate = rg.o_orderdate
            )
            SELECT o_orderpriority, o_orderdate,
                   last_value(n_orders IGNORE NULLS) OVER w AS n_orders,
                   last_value(avg_price IGNORE NULLS) OVER w AS avg_price
            FROM j
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "json_normalize": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_k
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "es_knn": """
            WITH q AS (
                SELECT embedding AS qv FROM embeddings WHERE vec_id = 2
            )
            SELECT vec_id, label
            FROM embeddings, q
            WHERE vec_id >= 5
            ORDER BY list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))) DESC,
                     vec_id ASC
            LIMIT 10
        """,
        "gapfill_interp": """
            WITH b AS (
                SELECT event_type,
                       make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600
                                           * 1000000 AS BIGINT)) AS bucket,
                       avg(value) AS v
                FROM events GROUP BY 1, 2
            ), span AS (
                SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                FROM b GROUP BY 1
            ), cal AS (
                SELECT event_type,
                       unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                FROM span
            ), j AS (
                SELECT c.event_type, c.bucket, b.v,
                       last_value(b.v IGNORE NULLS) OVER w_f AS pv,
                       last_value(CASE WHEN b.v IS NOT NULL THEN c.bucket END
                                  IGNORE NULLS) OVER w_f AS pb,
                       first_value(b.v IGNORE NULLS) OVER w_b AS nv,
                       first_value(CASE WHEN b.v IS NOT NULL THEN c.bucket END
                                   IGNORE NULLS) OVER w_b AS nb
                FROM cal c
                LEFT JOIN b ON b.event_type = c.event_type
                           AND b.bucket = c.bucket
                WINDOW w_f AS (PARTITION BY c.event_type ORDER BY c.bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       w_b AS (PARTITION BY c.event_type ORDER BY c.bucket
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_type, bucket,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NOT NULL AND nv IS NOT NULL
                                   AND epoch(nb) > epoch(pb)
                              THEN pv + (nv - pv)
                                   * (epoch(bucket) - epoch(pb))
                                   / (epoch(nb) - epoch(pb))
                              ELSE pv END, 6) AS value
            FROM j
        """,
        "str_extractall": """
            WITH m AS (
                SELECT doc_id,
                       regexp_extract_all(text, '\\b(t[a-z]+)\\b', 1) AS gs
                FROM documents WHERE doc_id < 200
            )
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS match, g AS w
            FROM (SELECT doc_id, unnest(gs) AS g,
                         unnest(range(1, len(gs) + 1)) AS i
                  FROM m)
        """,
        "pack_invariants": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
                   CAST(0 AS BIGINT) AS over_budget_multi
            FROM documents
        """,
        "pca_invariants": """
            WITH e AS (
                SELECT unnest(range(1, len(embedding) + 1)) AS i,
                       unnest(embedding::DOUBLE[]) AS x
                FROM embeddings
            ), pv AS (
                SELECT i, var_samp(x) AS v FROM e GROUP BY i
            )
            SELECT (SELECT CAST(max(len(embedding)) AS INT) FROM embeddings) AS dim,
                   round(sum(v), 6) AS total_var
            FROM pv
        """,
        "concat_frames_axis1": """
            SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS okey,
                   a.o_custkey AS o_custkey,
                   a.o_totalprice AS o_totalprice,
                   b.o_custkey AS o_custkey_1,
                   b.o_orderpriority AS o_orderpriority
            FROM (SELECT o_orderkey, o_custkey, o_totalprice
                  FROM orders WHERE o_totalprice > 300000) a
            FULL OUTER JOIN
                 (SELECT o_orderkey, o_custkey, o_orderpriority
                  FROM orders WHERE o_orderpriority = '1-URGENT') b
              ON a.o_orderkey = b.o_orderkey
        """,
        "frame_apply": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   round(l_extendedprice * (1.0 - l_discount)
                         * (CASE WHEN l_returnflag = 'A'
                            THEN 1.06::DOUBLE ELSE 1.0::DOUBLE END),
                         6) AS rev
            FROM lineitem
        """,
        "applymap": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   round(l_quantity * 0.5 + 1.0, 4) AS q_half,
                   round(l_extendedprice * 0.5 + 1.0, 4) AS p_half
            FROM lineitem
        """,
        "series_stats": _SERIES_STATS_ORACLE,
        "cap_per_domain": _CAP_PER_DOMAIN_ORACLE,
        "token_budget_sample": _TOKEN_BUDGET_ORACLE,
        "boilerplate": _boilerplate_oracle_sql(" ", 395),
        "curation_pipeline": _curation_pipeline_oracle_sql(),
        "ann_ivf_quantized_seeded": _ann_ivf_quantized_oracle_sql(),
        "multimodal_pipeline_md5": _multimodal_md5_oracle_sql(),
        "series_shift": """
            SELECT o_orderkey,
                   round(lag(o_totalprice, 1) OVER (ORDER BY o_orderkey), 2)
                       AS shift
            FROM orders
        """,
        "series_diff": """
            SELECT o_orderkey,
                   round(o_totalprice
                         - lag(o_totalprice, 1) OVER (ORDER BY o_orderkey), 2)
                       AS diff
            FROM orders
        """,
        "series_cumsum": """
            SELECT o_orderkey,
                   CAST(sum(o_custkey) OVER (ORDER BY o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumsum
            FROM orders
        """,
        "stack_long": """
            SELECT o_orderkey, 'o_totalprice' AS level_1,
                   round(CAST(o_totalprice AS DOUBLE), 2) AS value
            FROM orders
            UNION ALL
            SELECT o_orderkey, 'o_custkey' AS level_1,
                   round(CAST(o_custkey AS DOUBLE), 2) AS value
            FROM orders
        """,
        "interpolate_gaps": """
            WITH base AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 7 > 1
                            THEN CAST(o_totalprice AS DOUBLE) END AS v,
                       row_number() OVER (ORDER BY o_orderkey) AS rn
                FROM orders
            ), marked AS (
                SELECT o_orderkey, v, rn,
                       last_value(CASE WHEN v IS NOT NULL THEN
                               struct_pack(p := rn, vv := v) END IGNORE NULLS)
                           OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS prev,
                       first_value(CASE WHEN v IS NOT NULL THEN
                               struct_pack(p := rn, vv := v) END IGNORE NULLS)
                           OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW
                                 AND UNBOUNDED FOLLOWING) AS nxt
                FROM base
            )
            SELECT o_orderkey,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN prev IS NULL THEN NULL
                              WHEN nxt IS NULL THEN prev.vv
                              ELSE prev.vv + (nxt.vv - prev.vv)
                                   * CAST(rn - prev.p AS DOUBLE)
                                   / CAST(nxt.p - prev.p AS DOUBLE)
                         END, 4) AS interp
            FROM marked
        """,
        "series_cumprod": """
            SELECT o_orderkey,
                   product(CAST(o_orderkey % 3 - 1 AS DOUBLE)) OVER (
                        ORDER BY o_orderkey
                        ROWS UNBOUNDED PRECEDING) + 0.0 AS cumprod
            FROM orders
        """,
        "events_time_window": """
            WITH f AS (
                SELECT * FROM events
                WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
                  AND ts <= TIMESTAMP '2024-01-25 23:59:59'
                  AND ((epoch_us(ts) - epoch_us(date_trunc('day', ts)))
                           >= CAST(22 AS BIGINT) * 3600 * 1000000
                       OR (epoch_us(ts) - epoch_us(date_trunc('day', ts)))
                           <= CAST(3 * 60 + 30 AS BIGINT) * 60 * 1000000)
            )
            SELECT event_type, count(*) AS n,
                   CAST(sum(user_id) AS BIGINT) AS sum_user
            FROM f GROUP BY event_type
        """,
        "series_cummax": """
            SELECT o_orderkey,
                   max(o_totalprice) OVER (ORDER BY o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS cummax
            FROM orders
        """,
        "groupby_cumsum": """
            SELECT o_orderkey,
                   CAST(sum(o_custkey) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_custkey
            FROM orders
        """,
        "groupby_shift": """
            SELECT o_orderkey,
                   lag(o_totalprice, 1) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_orderkey) AS prev_totalprice
            FROM orders
        """,
        "groupby_cumcount": """
            SELECT o_orderkey,
                   CAST(row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_orderkey) - 1 AS BIGINT) AS cumcount
            FROM orders
        """,
        "groupby_rank": """
            SELECT o_orderkey,
                   (CAST(rank() OVER w AS DOUBLE) + rank() OVER w
                    + count(*) OVER (PARTITION BY o_orderpriority,
                                     o_totalprice) - 1) / 2
                       AS rank_totalprice
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        """,
        "groupby_rolling": """
            SELECT o_orderkey,
                   CASE WHEN count(o_custkey) OVER w >= 4
                        THEN CAST(sum(o_custkey) OVER w AS BIGINT) END
                       AS roll_custkey
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        """,
        "expanding_mean": """
            SELECT o_orderkey,
                   CAST(sum(o_custkey) OVER w AS DOUBLE)
                       / count(o_custkey) OVER w AS expanding_mean
            FROM orders
            WINDOW w AS (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING)
        """,
        "rolling_global_sum": """
            SELECT o_orderkey,
                   CASE WHEN count(o_custkey) OVER w >= 5
                        THEN CAST(sum(o_custkey) OVER w AS BIGINT) END
                       AS rolling_sum
            FROM orders
            WINDOW w AS (ORDER BY o_orderkey
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "rolling_global_min": """
            SELECT o_orderkey,
                   CASE WHEN count(o_totalprice) OVER w >= 7
                        THEN min(o_totalprice) OVER w END AS rolling_min
            FROM orders
            WINDOW w AS (ORDER BY o_orderkey
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "simhash_md5": _simhash_oracle_sql(),
        "simhash_near_dup_md5": _simhash_pairs_oracle_sql(),
        "ann_ivf": _ivf_oracle_sql(),
        "groupby_sample": """
            WITH k AS (
                SELECT o_orderkey, o_orderstatus,
                       CAST(('0x' || substr(md5(o_orderkey::VARCHAR || '42'), 1, 15))
                            AS BIGINT) AS hk
                FROM orders
            ), frac AS (
                SELECT o_orderkey, 'frac' AS mode FROM k
                WHERE hk < 0.2 * 1152921504606846976.0
            ), r AS (
                SELECT o_orderkey,
                       row_number() OVER (PARTITION BY o_orderstatus
                                          ORDER BY hk, o_orderkey::VARCHAR) AS rn
                FROM k
            ), topn AS (
                SELECT o_orderkey, 'n' AS mode FROM r WHERE rn <= 5
            )
            SELECT * FROM frac UNION ALL SELECT * FROM topn
        """,
        "sample_quantile_sketch": """
            WITH keyed AS (
                SELECT l_returnflag, l_extendedprice,
                       CAST(('0x' || substr(md5(
                           l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR
                           || '|' || l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR
                       ), 1, 15)) AS BIGINT) AS hk
                FROM lineitem WHERE l_extendedprice IS NOT NULL
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                             ORDER BY hk) AS rn
                FROM keyed
            ), kept AS (
                SELECT l_returnflag, l_extendedprice, hk FROM r WHERE rn <= 512
            ), pv AS (
                SELECT l_returnflag, l_extendedprice,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY l_extendedprice) AS vr,
                       count(*) OVER (PARTITION BY l_returnflag) AS n
                FROM kept
            ), per AS (
                SELECT l_returnflag AS grp, round(l_extendedprice, 2) AS p50
                FROM pv WHERE vr = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
            ), gk AS (
                SELECT l_extendedprice,
                       row_number() OVER (ORDER BY hk) AS rn
                FROM kept
            ), gv AS (
                SELECT l_extendedprice,
                       row_number() OVER (ORDER BY l_extendedprice) AS vr,
                       count(*) OVER () AS n
                FROM gk WHERE rn <= 512
            ), gall AS (
                SELECT 'ALL' AS grp, round(l_extendedprice, 2) AS p50
                FROM gv WHERE vr = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
            )
            SELECT * FROM per UNION ALL SELECT * FROM gall ORDER BY grp
        """,
        "groupby_corr": """
            WITH cols(c) AS (VALUES ('l_quantity'), ('l_discount'), ('l_tax'))
            SELECT l_returnflag AS grp, a.c AS col_a, b.c AS col_b,
                   round(corr(
                       CASE a.c WHEN 'l_quantity' THEN l_quantity
                                WHEN 'l_discount' THEN l_discount
                                ELSE l_tax END,
                       CASE b.c WHEN 'l_quantity' THEN l_quantity
                                WHEN 'l_discount' THEN l_discount
                                ELSE l_tax END), 6) AS corr
            FROM lineitem CROSS JOIN cols a CROSS JOIN cols b
            GROUP BY 1, 2, 3
        """,
        "str_cat": """
            SELECT o_orderkey, o_orderstatus || '-' || o_orderpriority AS tag
            FROM orders
        """,
        "rollup_hypertable": """
            SELECT date_trunc('day', ts) AS bucket,
                   event_type,
                   count(value) AS n,
                   round(sum(value), 4) AS total,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax,
                   count(DISTINCT user_id) AS nd
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "cms_freq": _cms_oracle_sql(),
        "bloom_membership": """
            WITH h AS (
                SELECT source, doc_id,
                       CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                            AS BIGINT) AS h1,
                       CAST(('0x' || substr(md5(doc_id::VARCHAR), 17, 15))
                            AS BIGINT) AS h2
                FROM documents
            ), pos AS (
                SELECT source, (h1 + i * h2) % 8192 AS p
                FROM h, UNNEST(range(1, 5)) AS u(i)
            ), sk AS (
                SELECT source, CAST(p // 63 AS INT) AS word,
                       bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
                FROM pos GROUP BY source, CAST(p // 63 AS INT)
            ), probes AS (
                SELECT source, doc_id AS probe_id FROM documents
                UNION ALL
                SELECT source, doc_id + 1000000000 FROM documents
            ), ph AS (
                SELECT source, probe_id,
                       CAST(('0x' || substr(md5(probe_id::VARCHAR), 1, 15))
                            AS BIGINT) AS h1,
                       CAST(('0x' || substr(md5(probe_id::VARCHAR), 17, 15))
                            AS BIGINT) AS h2
                FROM probes
            ), need AS (
                SELECT source, probe_id, CAST(p // 63 AS INT) AS word,
                       bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS need
                FROM (SELECT source, probe_id, (h1 + i * h2) % 8192 AS p
                      FROM ph, UNNEST(range(1, 5)) AS u(i))
                GROUP BY source, probe_id, CAST(p // 63 AS INT)
            )
            SELECT n.source, n.probe_id,
                   bool_and(s.bits IS NOT NULL
                            AND (s.bits & n.need) = n.need) AS contained
            FROM need n
            LEFT JOIN sk s ON s.source = n.source AND s.word = n.word
            GROUP BY n.source, n.probe_id
            ORDER BY n.source, n.probe_id
        """,
        "kmv_distinct": """
            WITH d AS (
                SELECT DISTINCT l_returnflag,
                       CAST(('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))
                            AS BIGINT)::DOUBLE AS hv
                FROM lineitem
            ), r AS (
                SELECT l_returnflag, hv,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY hv) AS rn
                FROM d
            ), sk AS (
                SELECT l_returnflag, max(hv) AS hk, count(*) AS n
                FROM r WHERE rn <= 256 GROUP BY l_returnflag
            ), per AS (
                SELECT l_returnflag AS grp,
                       CASE WHEN n < 256 THEN n
                            ELSE CAST(round((n - 1)
                                 / (hk / 1152921504606846976.0)) AS BIGINT)
                       END AS estimate
                FROM sk
            ), gd AS (
                SELECT DISTINCT hv FROM r WHERE rn <= 256
            ), gr AS (
                SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM gd
            ), gsk AS (
                SELECT max(hv) AS hk, count(*) AS n FROM gr WHERE rn <= 256
            )
            SELECT grp, estimate FROM per
            UNION ALL
            SELECT 'ALL' AS grp,
                   CASE WHEN n < 256 THEN n
                        ELSE CAST(round((n - 1)
                             / (hk / 1152921504606846976.0)) AS BIGINT)
                   END AS estimate
            FROM gsk
            ORDER BY grp
        """,
        "rowwise_arith": """
            SELECT o_orderkey,
                   round(o_custkey + 10.0, 2) AS cust_p10,
                   round(o_totalprice + 10.0, 2) AS price_p10,
                   round(o_custkey + o_totalprice, 2) AS row_sum,
                   round((o_custkey + o_totalprice) / 2.0, 4) AS row_mean,
                   round(greatest(o_custkey::DOUBLE, o_totalprice), 2) AS row_max
            FROM orders
        """,
        "range_join": """
            WITH bands AS (
                SELECT i AS tier, i * 25000.0 AS lo, i * 25000.0 + 30000.0 AS hi
                FROM range(20) t(i)
            )
            SELECT b.tier, count(*) AS n, round(sum(o.o_totalprice), 2) AS sum_price
            FROM orders o JOIN bands b
              ON o.o_totalprice BETWEEN b.lo AND b.hi
            GROUP BY b.tier ORDER BY b.tier
        """,
        "dt_components": """
            SELECT event_id,
                   CAST(extract(second FROM ts) AS BIGINT) AS sec,
                   CAST(extract(quarter FROM ts) AS BIGINT) AS qtr,
                   CAST(dayofyear(ts) AS BIGINT) AS doy,
                   CAST(weekofyear(ts) AS BIGINT) AS wk,
                   CAST(extract(day FROM last_day(ts)) AS BIGINT) AS dim,
                   (CAST(ts AS DATE) = CAST(last_day(ts) AS DATE)) AS m_end,
                   strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
                   date_trunc('day', ts) AS fl_d
            FROM events
        """,
        "quality_classifier": """
            WITH w(tok, wt) AS (VALUES
                ('spark', 0.9), ('query', 0.7), ('window', 0.5), ('join', 0.4),
                ('merge', 0.3), ('slow', -0.8), ('dup', -1.0), ('batch', -0.2)
            ), t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), u AS (
                SELECT doc_id, unnest(toks) AS tok FROM t
            ), m AS (
                SELECT u.doc_id, sum(coalesce(w.wt, 0.0)) AS total
                FROM u LEFT JOIN w ON u.tok = w.tok
                GROUP BY u.doc_id
            ), s AS (
                SELECT t.doc_id,
                       1.0 / (1.0 + exp(-(
                           (CASE WHEN len(t.toks) > 0
                                 THEN coalesce(m.total, 0.0) / len(t.toks)
                                 ELSE 0.0 END) - 0.1))) AS p
                FROM t LEFT JOIN m USING (doc_id)
            )
            SELECT doc_id, round(p, 6) AS quality_prob
            FROM s WHERE p >= 0.5
        """,
        "temperature_mixture": """
            WITH c AS (
                SELECT source, count(*) AS n FROM documents GROUP BY source
            ), w AS (
                SELECT source, n,
                       power(n, 0.5) / sum(power(n, 0.5)) OVER () AS p
                FROM c
            ), r AS (
                SELECT source, least(1.0, 600 * p / n) AS rate FROM w
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN r USING (source)
            WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR || '42'), 1, 15))
                       AS BIGINT)
                  < r.rate * 1152921504606846976.0
        """,
        "frame_compare": """
            WITH b AS (
                SELECT o_orderkey,
                       CASE WHEN o_totalprice < 400000 THEN o_totalprice
                            ELSE o_totalprice * 2 END AS price_b
                FROM orders
            )
            SELECT a.o_orderkey,
                   round(a.o_totalprice, 2) AS price_self,
                   round(b.price_b, 2) AS price_other
            FROM orders a JOIN b USING (o_orderkey)
            WHERE a.o_totalprice IS DISTINCT FROM b.price_b
        """,
        "combine_first": """
            SELECT o_orderkey,
                   round(coalesce(
                       CASE WHEN o_totalprice > 200000 THEN o_totalprice END,
                       o_totalprice * 0), 2) AS gap_patched
            FROM orders
        """,
        "groupby_describe": """
            SELECT o_orderstatus,
                   round(count(o_totalprice)::DOUBLE, 4) AS n,
                   round(avg(o_totalprice), 4) AS mean,
                   round(stddev_samp(o_totalprice), 4) AS std,
                   round(min(o_totalprice), 4) AS min,
                   round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
                   round(max(o_totalprice), 4) AS max
            FROM orders GROUP BY o_orderstatus
        """,
        "frame_order_ops": """
            SELECT o_orderkey,
                   round(o_totalprice - lag(o_totalprice)
                         OVER (ORDER BY o_orderkey), 2) AS d_price,
                   round(sum(o_totalprice) OVER (ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS cum_price,
                   CAST(sum(o_custkey) OVER (ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_cust
            FROM orders
        """,
        "frame_ffill": """
            SELECT o_orderkey,
                   round(last_value(CASE WHEN o_totalprice > 300000
                                         THEN o_totalprice END IGNORE NULLS)
                         OVER (ORDER BY o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         2) AS gap_filled
            FROM orders
        """,
        "str_methods": """
            SELECT doc_id,
                   upper(substr(source, 1, 1)) || lower(substr(source, 2)) AS cap,
                   translate(source,
                       'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
                       'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swapped,
                   CAST(strpos(source, 'rc') - 1 AS BIGINT) AS f_rc,
                   CAST(CASE WHEN strpos(reverse(source), 'c') = 0 THEN -1
                             ELSE length(source) - strpos(reverse(source), 'c')
                        END AS BIGINT) AS rf_c,
                   regexp_full_match(source, 'src[0-9]+') AS is_src,
                   CASE WHEN starts_with(source, 'src') THEN substr(source, 4)
                        ELSE source END AS bare,
                   CASE WHEN length(source) >= 1
                        THEN substr(source, length(source), 1) END AS last_ch,
                   CAST(len(regexp_extract_all(text, 'a')) AS BIGINT) AS n_a,
                   (regexp_matches(substr(text, 1, 12), '[A-Za-z]')
                    AND NOT regexp_matches(substr(text, 1, 12), '[A-Za-z][A-Z]')
                    AND NOT regexp_matches(substr(text, 1, 12),
                                           '(^|[^A-Za-z])[a-z]')) AS titled
            FROM documents
        """,
        "url_curation": """
            WITH u AS (
                SELECT doc_id,
                       'https://' ||
                       (CASE WHEN doc_id % 7 = 0
                             THEN upper('www.' || source ||
                                  (CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END))
                             ELSE 'www.' || source ||
                                  (CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END)
                        END) ||
                       (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
                       '/doc/' || (doc_id % 50)::VARCHAR ||
                       (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
                       (CASE WHEN doc_id % 4 = 0
                             THEN '?utm_source=feed&id=' || (doc_id % 50)::VARCHAR
                             WHEN doc_id % 4 = 1
                             THEN '?id=' || (doc_id % 50)::VARCHAR
                             ELSE '' END) AS url
                FROM documents
            ), parts AS (
                SELECT doc_id, url,
                       lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)) AS scheme,
                       lower(regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host,
                       regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*?:(\\d+)', 1) AS port,
                       regexp_replace(regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
                       regexp_extract(url, '\\?([^#]*)', 1) AS query
                FROM u
            ), canon AS (
                SELECT doc_id, host,
                       scheme || '://' || host ||
                       (CASE WHEN port <> '' AND port <> '80' AND port <> '443'
                             THEN ':' || port ELSE '' END) ||
                       path ||
                       (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS curl
                FROM (
                    SELECT *,
                           array_to_string(list_sort(list_filter(
                               string_split(query, '&'),
                               p -> p <> '' AND NOT regexp_matches(p,
                                   '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid|igshid|ref)=')
                           )), '&') AS cq
                    FROM parts
                )
            ), kept AS (
                SELECT min(doc_id) AS doc_id, any_value(host) AS host
                FROM canon GROUP BY curl
            ), dom AS (
                SELECT doc_id,
                       CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                            WHEN len(string_split(host, '.')) >= 3
                                 AND string_split(host, '.')[-2] IN
                                     ('co','com','ac','gov','net','org','edu')
                                 AND length(string_split(host, '.')[-1]) <= 3
                                 AND length(string_split(host, '.')[-2]) <= 3
                            THEN string_split(host, '.')[-3] || '.' ||
                                 string_split(host, '.')[-2] || '.' ||
                                 string_split(host, '.')[-1]
                            ELSE string_split(host, '.')[-2] || '.' ||
                                 string_split(host, '.')[-1]
                       END AS url_domain
                FROM kept
            )
            SELECT url_domain, count(*) AS n_urls, min(doc_id) AS min_doc
            FROM dom GROUP BY url_domain ORDER BY url_domain
        """,
        "semantic_dedup": """
            WITH cent AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                       embedding::DOUBLE[] AS cv
                FROM embeddings ORDER BY vec_id LIMIT 48
            ), assigned AS (
                SELECT vec_id, label, v, cell FROM (
                    SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                                        c.cell) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ), drops AS (
                SELECT DISTINCT r.vec_id AS did
                FROM assigned l JOIN assigned r
                  ON l.cell = r.cell AND l.vec_id < r.vec_id
                WHERE list_dot_product(l.v, r.v)
                      / (sqrt(list_dot_product(l.v, l.v))
                         * sqrt(list_dot_product(r.v, r.v))) >= 0.9
            )
            SELECT label, count(*) AS n_kept, min(vec_id) AS min_id
            FROM assigned WHERE vec_id NOT IN (SELECT did FROM drops)
            GROUP BY label ORDER BY label
        """,
        "embed_dedup": _embed_dedup_oracle_sql(),
        "sample_exact_n": """
            SELECT doc_id, source FROM documents
            ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR || '7'), 1, 15))
                          AS BIGINT) ASC
            LIMIT 50
        """,
        "weighted_sample": """
            WITH f AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0.0
                            ELSE len(string_split_regex(trim(text), '\\s+')) * 1.0
                       END AS n_tok,
                       CASE WHEN length(text) > 0 THEN
                            (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                            / length(text)
                       ELSE 0.0 END AS punct_ratio,
                       CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0 THEN
                            len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                           'that','for','on','with','as','at','by','this','be'))) * 1.0
                            / len(string_split_regex(trim(lower(text)), '\\s+'))
                       ELSE 0.0 END AS sw_ratio
                FROM documents
            ), w AS (
                SELECT doc_id,
                       (least(n_tok / 100.0, 1.0)
                        + (1.0 - least(punct_ratio * 5.0, 1.0))
                        + least(sw_ratio * 4.0, 1.0)) / 3.0 + 0.01 AS wq
                FROM f
            ), k AS (
                SELECT doc_id, wq,
                       -ln(greatest(
                            CAST(('0x' || substr(md5(doc_id::VARCHAR || '42'), 1, 13))
                                 AS BIGINT) / 4503599627370496.0,
                            1e-15)) / wq AS skey
                FROM w
            )
            SELECT doc_id, round(wq, 6) AS wq FROM k ORDER BY skey LIMIT 100
        """,
        "mixture_sample": """
            SELECT source, count(*) AS n FROM documents
            WHERE source IN ('src0', 'src1') GROUP BY 1
        """,
        "stratified_sample": """
            SELECT source, count(*) AS n FROM documents
            WHERE source IN ('src0', 'src2') GROUP BY 1
        """,
        "explode_embeddings": """
            SELECT label, count(*) AS n_elems, round(sum(x), 2) AS sum_elems
            FROM (SELECT label, unnest(embedding) AS x FROM embeddings)
            GROUP BY 1
        """,
        "two_phase_distinct": """
            SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
            FROM lineitem GROUP BY 1
        """,
        "salted_join": """
            SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "bm25_topk": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+'),
                                   t -> t <> '') AS tk
                FROM documents
            ), per AS (
                SELECT doc_id, len(tk) AS dl,
                       len(list_filter(tk, t -> t = 'spark'))  AS tf0,
                       len(list_filter(tk, t -> t = 'window')) AS tf1,
                       len(list_filter(tk, t -> t = 'agg'))    AS tf2
                FROM toks
            ), stats AS (
                SELECT count(*) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                       sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
                FROM per
            ), scored AS (
                -- same association order as the Spark expression:
                -- ((idf * tf) * (k1+1)) / (tf + k1*((1-b) + (b/avgdl)*dl))
                SELECT p.doc_id AS id,
                       round(
                         ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5)) * p.tf0 * 2.2
                           / (p.tf0 + 1.2 * (0.25 + (0.75 / s.avgdl) * p.dl))
                       + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5)) * p.tf1 * 2.2
                           / (p.tf1 + 1.2 * (0.25 + (0.75 / s.avgdl) * p.dl))
                       + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5)) * p.tf2 * 2.2
                           / (p.tf2 + 1.2 * (0.25 + (0.75 / s.avgdl) * p.dl))
                       , 6) AS bm25
                FROM per p, stats s
            )
            SELECT id, bm25 FROM scored WHERE bm25 > 0
            ORDER BY bm25 DESC, id LIMIT 10
        """,
        "tfidf_topk": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(
                               regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                               '\\s+'),
                           t -> t <> '')) AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS score
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, round(score, 6) AS score, rnk
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
                  FROM scored)
            WHERE rnk <= 3
        """,
        "shard_by_budget": """
            WITH wt AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(
                            string_split_regex(trim(lower(text)), '\\s+'),
                            w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))
                            AS BIGINT) AS n_tokens
                FROM documents
            ), c AS (
                SELECT doc_id, n_tokens,
                       sum(n_tokens) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum
                FROM wt
            )
            SELECT CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
                   min(doc_id) AS first_doc,
                   max(doc_id) AS last_doc
            FROM c GROUP BY 1
        """,
        "zorder_cluster": _zorder_oracle_sql(6),
        "allocate_budget": _ALLOCATE_BUDGET_ORACLE,
        "bpe_train": _bpe_oracle_sql(**_BPE_PARAMS),
        "bpe_segment": _bpe_segment_oracle_sql(_BPE_SEG_MERGES),
        "vocabulary": """
            WITH toks AS (
                SELECT unnest(list_filter(
                    string_split_regex(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+'),
                    t -> t != '')) AS token
                FROM documents
            )
            SELECT token, count(*) AS count
            FROM toks GROUP BY 1
            HAVING count(*) >= 2
            ORDER BY count DESC, token ASC
            LIMIT 100
        """,
        "pack_documents_seq": """
            WITH RECURSIVE wt AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(
                            string_split_regex(trim(lower(text)), '\\s+'),
                            w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))
                            AS BIGINT) AS n_tokens
                FROM documents
            ), d AS (
                SELECT doc_id, n_tokens,
                       row_number() OVER (ORDER BY doc_id) AS rn
                FROM wt
            ), p(rn, doc_id, n_tokens, bin_id, fill) AS (
                SELECT rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.rn, d.doc_id, d.n_tokens,
                       CASE WHEN p.fill + d.n_tokens > 2048
                            THEN p.bin_id + 1 ELSE p.bin_id END,
                       CASE WHEN p.fill + d.n_tokens > 2048
                            THEN d.n_tokens ELSE p.fill + d.n_tokens END
                FROM p JOIN d ON d.rn = p.rn + 1
            )
            SELECT doc_id, n_tokens, bin_id FROM p
        """,
        "text_advanced": """
            WITH f AS (
                SELECT doc_id, text,
                       CASE WHEN length(trim(text)) = 0 THEN 0.0
                            ELSE len(string_split_regex(trim(text), '\\s+')) * 1.0
                       END AS n_tok,
                       CASE WHEN length(text) > 0 THEN
                            (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                            / length(text)
                       ELSE 0.0 END AS punct_ratio,
                       CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0 THEN
                            len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                           'that','for','on','with','as','at','by','this','be'))) * 1.0
                            / len(string_split_regex(trim(lower(text)), '\\s+'))
                       ELSE 0.0 END AS sw_ratio
                FROM documents
            )
            SELECT doc_id,
                   round((least(n_tok / 100.0, 1.0)
                          + (1.0 - least(punct_ratio * 5.0, 1.0))
                          + least(sw_ratio * 4.0, 1.0)) / 3.0, 6) AS quality,
                   CAST(list_sum(list_transform(
                        string_split_regex(trim(lower(text)), '\\s+'),
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens
            FROM f
        """,
        "chunk_chars": """
            SELECT doc_id,
                   CAST(s // 150 AS BIGINT) AS chunk_id,
                   substr(text, CAST(s AS INT) + 1, 200) AS chunk,
                   CAST(length(substr(text, CAST(s AS INT) + 1, 200)) AS BIGINT) AS chunk_len
            FROM documents, UNNEST(range(0, length(text), 150)) AS u(s)
            WHERE text IS NOT NULL AND length(text) > 0
        """,
        "chunk_tokens": """
            WITH w AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS parts
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0
            ), c AS (
                SELECT doc_id,
                       CAST(s // 32 AS BIGINT) AS chunk_id,
                       array_to_string(parts[CAST(s AS INT) + 1 : CAST(s AS INT) + 40], ' ') AS chunk,
                       CAST(len(parts[CAST(s AS INT) + 1 : CAST(s AS INT) + 40]) AS BIGINT) AS n_tokens
                FROM w, UNNEST(range(0, len(parts), 32)) AS u(s)
            )
            SELECT doc_id, chunk_id, chunk,
                   CAST(length(chunk) AS BIGINT) AS chunk_len, n_tokens
            FROM c
        """,
        "embedding_covariance": """
            WITH e AS (
                SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            )
            SELECT a.i AS i, b.i AS j,
                   round(covar_samp(a.v, b.v), 6) + 0 AS cov
            FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY a.i, b.i
        """,
        "random_projection": _rp_oracle_sql(),
        "quantile_normalize": _quantile_normalize_oracle_sql(),
        "standardized": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   round((l_quantity - avg(l_quantity) OVER ())
                         / stddev_samp(l_quantity) OVER (), 4) + 0 AS qty_z,
                   round((l_extendedprice - avg(l_extendedprice) OVER ())
                         / stddev_samp(l_extendedprice) OVER (), 4) + 0
                       AS price_z
            FROM lineitem
        """,
        "winsorized": """
            WITH b AS (
                SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
                       quantile_cont(l_extendedprice, 0.95) AS hi
                FROM lineitem
            )
            SELECT count(*) FILTER (WHERE l_extendedprice < lo) AS n_below,
                   count(*) FILTER (WHERE l_extendedprice > hi) AS n_above,
                   round(avg(least(greatest(l_extendedprice, lo), hi)), 4) AS avg_w
            FROM lineitem, b
        """,
        "cross_near_dup": _cross_near_dup_oracle_sql(),
        "incremental_near_dup": _incremental_near_dup_oracle_sql(),
        "freq_tokens": """
            WITH t AS (
                SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents
            ), f AS (SELECT lang, tok FROM t WHERE length(tok) > 0)
            SELECT lang AS grp, tok AS item, count(*) AS cnt
            FROM f GROUP BY lang, tok
            UNION ALL
            SELECT 'ALL' AS grp, tok AS item, count(*) AS cnt
            FROM f GROUP BY tok
        """,
        "geo_query": """
            WITH p AS (
                SELECT c_custkey,
                       (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
                       (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
                FROM customer
            )
            SELECT c_custkey, round(lat, 2) AS lat, round(lon, 2) AS lon
            FROM p
            WHERE 2.0 * 6371008.7714 * asin(sqrt(least(
                      sin(radians(10.0 - lat) / 2) ^ 2
                      + cos(radians(lat)) * cos(radians(10.0))
                        * sin(radians(20.0 - lon) / 2) ^ 2, 1.0
                  ))) <= 5000000.0
              AND NOT (lat <= 45.0 AND lat >= -45.0
                       AND lon >= -10.0 AND lon <= 60.0)
        """,
        "interval_overlap": """
            WITH c AS (
                SELECT event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
                FROM events WHERE event_type = 'click'
            ), v AS (
                SELECT event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
                FROM events WHERE event_type = 'view'
            )
            SELECT c.event_id AS click_id, v.event_id AS view_id
            FROM c JOIN v ON c.s <= v.e AND v.s <= c.e
        """,
        "more_like_this": _mlt_oracle_sql(),
        "dedup_keep_best": _dedup_keep_best_oracle_sql(),
        "dsir_select": _dsir_oracle_sql(),
        "temperature_oversample": """
            WITH c AS (
                SELECT source, count(*) AS n FROM documents GROUP BY source
            ), w AS (
                SELECT source, n,
                       power(n, 0.3) / sum(power(n, 0.3)) OVER () AS p
                FROM c
            ), r AS (
                SELECT source, n, 800 * p / n AS rate FROM w
            ), k AS (
                SELECT d.doc_id, d.source, r.rate,
                       CAST(('0x' || substr(md5(d.doc_id::VARCHAR || '42'), 1, 15))
                            AS BIGINT) AS key
                FROM documents d JOIN r USING (source)
            ), nrep AS (
                SELECT doc_id, source,
                       CAST(floor(rate) AS INT)
                       + CASE WHEN key < (rate - floor(rate)) * 1152921504606846976.0
                              THEN 1 ELSE 0 END AS n_copies
                FROM k
            )
            SELECT doc_id, source, CAST(u.copy AS INT) AS copy
            FROM nrep, UNNEST(range(0, n_copies)) AS u(copy)
            WHERE n_copies > 0
        """,
        "snapshot_diff": """
            WITH old AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
            ), new AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 7 <> 0
            ), j AS (
                SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                       (o.doc_id IS NOT NULL) AS in_old,
                       (n.doc_id IS NOT NULL) AS in_new,
                       (o.text IS NOT DISTINCT FROM n.text) AS same
                FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
            )
            SELECT doc_id,
                   CASE WHEN NOT in_old THEN 'added'
                        WHEN NOT in_new THEN 'removed'
                        WHEN same THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM j
            WHERE NOT (in_old AND in_new AND same)
            ORDER BY doc_id
        """,
        "wordpiece": _wordpiece_oracle_sql(),
        "dup_spans": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), t -> t <> '') AS t
                FROM documents
            ), base AS (
                SELECT doc_id, COALESCE(len(t), 0) AS n_tokens, t FROM toks
            ), wins AS (
                SELECT doc_id, CAST(s AS INT) AS strt,
                       array_to_string(t[CAST(s AS INT) + 1 : CAST(s AS INT) + 8], ' ') AS w
                FROM base, UNNEST(range(0, n_tokens - 7)) AS u(s)
            ), dup AS (
                SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
            ), flagged AS (
                SELECT wins.doc_id, wins.strt FROM wins JOIN dup USING (w)
            ), cov AS (
                SELECT doc_id, count(DISTINCT p) AS covered_tokens
                FROM flagged, UNNEST(range(strt, strt + 8)) AS c(p)
                GROUP BY doc_id
            ), nd AS (
                SELECT doc_id, count(*) AS dup_windows FROM flagged GROUP BY doc_id
            )
            SELECT b.doc_id,
                   CAST(b.n_tokens AS BIGINT) AS n_tokens,
                   CAST(COALESCE(nd.dup_windows, 0) AS BIGINT) AS dup_windows,
                   CAST(COALESCE(cov.covered_tokens, 0) AS BIGINT) AS covered_tokens,
                   round(CASE WHEN b.n_tokens > 0
                              THEN COALESCE(cov.covered_tokens, 0) / b.n_tokens
                              ELSE 0.0 END, 6) AS dup_fraction
            FROM base b
            LEFT JOIN nd USING (doc_id)
            LEFT JOIN cov USING (doc_id)
        """,
        "segment_dedup": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' the ') AS l FROM documents
            ), u AS (
                SELECT doc_id,
                       unnest([{'pos': i, 'seg': l[i]}
                               for i in generate_series(1, len(l))]) AS s
                FROM t
            ), parts AS (
                SELECT doc_id, s.pos AS pos, s.seg AS seg
                FROM u WHERE trim(s.seg) <> ''
            ), marked AS (
                SELECT doc_id, pos, seg,
                       row_number() OVER (PARTITION BY lower(trim(seg))
                                          ORDER BY doc_id, pos) = 1 AS keep
                FROM parts
            ), agg AS (
                SELECT doc_id,
                       coalesce(string_agg(seg, ' the ' ORDER BY pos)
                                FILTER (WHERE keep), '') AS dedup_text,
                       count(*) AS n_segments,
                       count(*) FILTER (WHERE keep) AS n_kept
                FROM marked GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.dedup_text, '') AS dedup_text,
                   CAST(coalesce(a.n_segments, 0) AS BIGINT) AS n_segments,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        "gopher_quality": """
            WITH sig AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS toks,
                       list_filter(string_split(text, chr(10)),
                                   x -> trim(x) <> '') AS lines,
                       len(text) - len(replace(text, '#', '')) AS n_hash,
                       (len(text) - len(replace(text, '...', ''))) / 3.0 AS n_ell
                FROM documents
            ), m AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       round(CASE WHEN len(toks) > 0
                             THEN list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
                             ELSE 0 END, 6) AS mean_word_len,
                       round(CASE WHEN len(toks) > 0
                             THEN (n_hash + n_ell) / len(toks)
                             ELSE 0 END, 6) AS symbol_word_ratio,
                       round(CASE WHEN len(lines) > 0
                             THEN len(list_filter(lines, l -> ltrim(l) LIKE '- %'
                                  OR ltrim(l) LIKE '* %' OR ltrim(l) LIKE '•%')) * 1.0 / len(lines)
                             ELSE 0 END, 6) AS bullet_line_frac,
                       round(CASE WHEN len(lines) > 0
                             THEN len(list_filter(lines, l -> rtrim(l) LIKE '%...'
                                  OR rtrim(l) LIKE '%…')) * 1.0 / len(lines)
                             ELSE 0 END, 6) AS ellipsis_line_frac,
                       round(CASE WHEN len(toks) > 0
                             THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks)
                             ELSE 0 END, 6) AS alpha_word_frac,
                       CAST(len(list_intersect(
                           list_distinct(list_transform(toks, x -> lower(x))),
                           ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits
                FROM sig
            )
            SELECT *,
                   n_words >= 50 AND n_words <= 100000 AS rule_word_count,
                   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS rule_mean_word_len,
                   symbol_word_ratio <= 0.1 AS rule_symbol_ratio,
                   bullet_line_frac < 0.9 AS rule_bullet_lines,
                   ellipsis_line_frac < 0.3 AS rule_ellipsis_lines,
                   alpha_word_frac >= 0.8 AS rule_alpha_words,
                   stopword_hits >= 1 AS rule_stopwords,
                   (n_words >= 50 AND n_words <= 100000)
                   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                   AND symbol_word_ratio <= 0.1 AND bullet_line_frac < 0.9
                   AND ellipsis_line_frac < 0.3 AND alpha_word_frac >= 0.8
                   AND stopword_hits >= 1 AS gopher_pass
            FROM m
        """,
        "c4_rules": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' the '),
                                   l -> trim(l) <> '') AS lines
                FROM documents
            ), k AS (
                SELECT doc_id, lines,
                       list_filter(lines, l ->
                           len(list_filter(string_split_regex(trim(l), '\\s+'),
                                           w -> w <> '')) >= 5
                           AND NOT contains(lower(trim(l)), 'javascript')
                       ) AS kept
                FROM t
            ), c AS (
                SELECT doc_id,
                       coalesce(array_to_string(
                           list_transform(kept, l -> trim(l)), ' the '), '') AS clean_text,
                       CAST(coalesce(len(lines), 0) AS BIGINT) AS n_lines,
                       CAST(coalesce(len(kept), 0) AS BIGINT) AS n_kept_lines
                FROM k
            )
            SELECT doc_id, clean_text, n_lines, n_kept_lines,
                   (contains(lower(clean_text), 'lorem ipsum')
                    OR contains(lower(clean_text), '{')) AS page_blocked,
                   len(list_intersect(
                       list_distinct(list_filter(
                           string_split_regex(lower(clean_text), '\\s+'),
                           w -> w <> '')),
                       ['slow'])) > 0 AS has_bad_word,
                   (n_kept_lines >= 2
                    AND NOT (contains(lower(clean_text), 'lorem ipsum')
                             OR contains(lower(clean_text), '{'))
                    AND NOT len(list_intersect(
                        list_distinct(list_filter(
                            string_split_regex(lower(clean_text), '\\s+'),
                            w -> w <> '')),
                        ['slow'])) > 0) AS c4_keep
            FROM c
        """,
        "dedup_within_doc": """
            WITH t AS (
                SELECT doc_id,
                       unnest(string_split_regex(text, '\\s+')) AS w,
                       generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i
                FROM documents
            ), f AS (
                SELECT doc_id, w, min(i) AS fi
                FROM t WHERE length(trim(w)) > 0
                GROUP BY doc_id, w
            )
            SELECT doc_id,
                   string_agg(w, ' ' ORDER BY fi) AS dedup_text,
                   CAST(length(string_agg(w, ' ' ORDER BY fi)) AS BIGINT)
                       AS n_chars_dedup
            FROM f GROUP BY doc_id
        """,
        "pack_assemble": """
            WITH RECURSIVE wt AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(
                            string_split_regex(trim(lower(text)), '\\s+'),
                            w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))
                            AS BIGINT) AS n_tokens
                FROM documents
            ), d AS (
                SELECT doc_id, n_tokens,
                       row_number() OVER (ORDER BY doc_id) AS rn
                FROM wt
            ), p(rn, doc_id, n_tokens, bin_id, fill) AS (
                SELECT rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.rn, d.doc_id, d.n_tokens,
                       CASE WHEN p.fill + d.n_tokens > 2048
                            THEN p.bin_id + 1 ELSE p.bin_id END,
                       CASE WHEN p.fill + d.n_tokens > 2048
                            THEN d.n_tokens ELSE p.fill + d.n_tokens END
                FROM p JOIN d ON d.rn = p.rn + 1
            ), a AS (
                SELECT p.bin_id,
                       count(*) AS n_docs,
                       string_agg(doc.text, '<|eos|>' ORDER BY p.doc_id) AS text
                FROM p JOIN documents doc ON doc.doc_id = p.doc_id
                GROUP BY p.bin_id
            )
            SELECT bin_id, n_docs, text,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM a
        """,
        "scaled_robust": """
            WITH s AS (
                SELECT quantile_cont(l_quantity, 0.25) AS q1,
                       quantile_cont(l_quantity, 0.5) AS med,
                       quantile_cont(l_quantity, 0.75) AS q3,
                       min(l_extendedprice) AS lo,
                       max(l_extendedprice) AS hi
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   round((l_quantity - med) / (q3 - q1), 4) AS qty_r,
                   round((l_extendedprice - lo) / (hi - lo), 4) AS price_mm
            FROM lineitem, s
        """,
        "train_classifier": _train_classifier_oracle_sql(),
        "ann_pq": _ANN_PQ_ORACLE,
        "rollup_topk": """
            SELECT time_bucket(INTERVAL '1 day', ts) AS bucket,
                   event_type AS item,
                   count(*) AS cnt
            FROM events
            GROUP BY 1, 2
        """,
        "corpus_profile": """
            WITH f AS (
                SELECT source, lang, n_chars,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tok,
                       CASE WHEN length(text) > 0 THEN
                            (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                            / length(text)
                       ELSE 0.0 END AS punct_ratio,
                       CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0 THEN
                            len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                           'that','for','on','with','as','at','by','this','be'))) * 1.0
                            / len(string_split_regex(trim(lower(text)), '\\s+'))
                       ELSE 0.0 END AS sw_ratio
                FROM documents
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                   round(avg((least(n_tok / 100.0, 1.0)
                          + (1.0 - least(punct_ratio * 5.0, 1.0))
                          + least(sw_ratio * 4.0, 1.0)) / 3.0), 6) AS avg_quality,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   count(DISTINCT lang) AS n_langs
            FROM f GROUP BY source
        """,
        "chunk_paragraphs": """
            WITH p AS (
                SELECT doc_id,
                       unnest(string_split_regex(text, ' the ')) AS part,
                       generate_subscripts(string_split_regex(text, ' the '), 1) - 1
                           AS part_id
                FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id, CAST(part_id AS BIGINT) AS part_id, part
            FROM p WHERE length(trim(part)) > 0
        """,
        "quality_suite": _quality_suite_oracle_sql(),
        "profile_table": _profile_table_oracle_sql(),
        "pagerank": _pagerank_oracle_sql(),
        "graph_degrees": _graph_degrees_oracle_sql(),
        "editdist_near_dup": _editdist_near_dup_oracle_sql(),
        "rolling_zscore": _rolling_zscore_oracle_sql(),
        "wide_to_long": _wide_to_long_oracle_sql(),
        "funnel": _funnel_oracle_sql(),
        "funnel_skew_safe": _funnel_oracle_sql(),
        "reindex": _reindex_oracle_sql(),
        "reindex_ffill": _reindex_ffill_oracle_sql(),
        "align_outer": _align_outer_oracle_sql(),
        "rolling_apply": _rolling_apply_oracle_sql(),
        "rolling_corr": _rolling_corr_oracle_sql(),
        "groupby_rolling_apply": _groupby_rolling_apply_oracle_sql(),
        "frame_expanding": _frame_expanding_oracle_sql(),
        "cohort_retention": _cohort_retention_oracle_sql(),
        "get_dummies": _get_dummies_oracle_sql(),
        "funnel_chains": _funnel_chains_oracle_sql(),
        "time_weighted_avg": _twa_oracle_sql(),
        "counter_rate": _counter_rate_oracle_sql(),
        "pagerank_personalized": _pagerank_personalized_oracle_sql(),
        "frame_rolling": _frame_rolling_oracle_sql(),
        "drift_psi": _drift_psi_oracle_sql(),
        "eval_auc": _eval_auc_oracle_sql(),
        "eval_confusion": _eval_confusion_oracle_sql(),
        "rank_metrics": _rank_metrics_oracle_sql(),
        "calibration": _calibration_oracle_sql(),
        "cohens_kappa": _cohens_kappa_oracle_sql(),
        "drift_ks": _drift_ks_oracle_sql(),
        "assoc_lang_source": _assoc_lang_source_oracle_sql(),
        "welch_ttest": _welch_ttest_oracle_sql(),
        "rank_sum_test": _rank_sum_test_oracle_sql(),
        "drift_scorecard": _drift_scorecard_oracle_sql(),
        "spearman": _spearman_oracle_sql(),
        "rolling_quantile": _rolling_quantile_oracle_sql(),
        "rank_uniform": _rank_uniform_oracle_sql(),
        "groupby_rolling_quantile": _groupby_rolling_quantile_oracle_sql(),
        "rolling_skew_kurt": _rolling_skew_kurt_oracle_sql(),
        "acf": _acf_oracle_sql(),
        "expanding_skew_kurt": _expanding_skew_kurt_oracle_sql(),
        "linear_fit": _linear_fit_oracle_sql(),
        "groupby_linear_fit": _groupby_linear_fit_oracle_sql(),
        "groupby_rolling_skew": _groupby_rolling_skew_oracle_sql(),
        "ewm_std": _ewm_std_oracle_sql(),
        "groupby_ewm_std": _groupby_ewm_std_oracle_sql(),
        "groupby_ewm_wide": _groupby_ewm_wide_oracle_sql(),
        "seasonal_decompose": _seasonal_decompose_oracle_sql(),
        "drift_js": _drift_js_oracle_sql(),
        "fleiss_kappa": _fleiss_kappa_oracle_sql(),
        "corpus_bleu": _corpus_bleu_oracle_sql(),
        "scd2_history": _scd2_history_oracle_sql(),
        "mmr_rerank": _mmr_rerank_oracle_sql(),
        "pr_curve": _pr_curve_oracle_sql(),
        "drift_battery": _drift_battery_oracle_sql(),
        "rouge_n": _rouge_n_oracle_sql(),
        "pit_join": _pit_join_oracle_sql(),
        "unigram_train": _unigram_train_oracle_sql(),
        "unigram_segment": _unigram_segment_oracle_sql(),
        "chrf": _chrf_oracle_sql(),
        "kaplan_meier": _kaplan_meier_oracle_sql(),
        "bigram_logppl": _bigram_logppl_oracle_sql(),
        "containment_near_dup": _containment_oracle_sql(),
        "k_anonymity": _k_anonymity_oracle_sql(),
        "negative_sample": _negative_sample_oracle_sql(),
        "fuzzy_title_match": _fuzzy_title_match_oracle_sql(),
        "weighted_quantiles": _weighted_quantiles_oracle_sql(),
        "label_propagation": _label_propagation_oracle_sql(),
        "random_walks": _random_walks_oracle_sql(),
        "forecast_metrics": _forecast_metrics_oracle_sql(),
        "span_corrupt": _span_corrupt_oracle_sql(),
        "trimmed_stats": _trimmed_stats_oracle_sql(),
    }
