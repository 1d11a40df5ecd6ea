"""Plan-shape assertions: the scale contract, pinned.

Mirrors the reference's compiled-artifact unit tests (filter DSL ->
exact ES JSON, eland tests/operators/test_operators_pytest.py:35-90) —
here the compiled artifact is the Catalyst physical plan, and the
asserted facts are the ones that decide 100 TB behavior."""

import pytest

import eland_spark as es
from eland_spark.plans import (
    broadcast_join_count,
    plan_summary,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li(spark):
    return es.read_parquet(
        spark, f"{SF}/lineitem.parquet",
        index_col=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    )


def test_filter_pushdown_reaches_scan(spark, li):
    out = li[li.l_quantity > 40.0].to_spark()
    pf = pushed_filters(out)
    assert any("l_quantity" in f and "GreaterThan" in f for f in pf), pf


def test_column_pruning(spark, li):
    out = li[["l_quantity", "l_extendedprice"]].to_spark()
    scans = read_schema_columns(out)
    assert scans, "no scan found"
    # scan reads only the projected columns + index (never the full 11)
    assert all(len(cols) <= 6 for cols in scans), scans


def test_small_dim_join_broadcasts(spark):
    cust = es.read_parquet(spark, f"{SF}/customer.parquet", index_col="c_custkey")
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    joined = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    assert broadcast_join_count(joined.to_spark()) >= 1


def test_agg_is_partial_final_single_shuffle(spark, li):
    out = li.to_spark().groupBy("l_returnflag").sum("l_quantity")
    # partial agg -> one exchange -> final agg
    assert shuffle_count(out) == 1
    text = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "partial_sum" in text, "no map-side partial aggregation"


def test_limit_does_not_full_scan_sort(spark, li):
    out = li.head(5).to_spark()
    # head compiles to a limit, not a global sort of the full table
    assert shuffle_count(out) == 0


def test_plan_summary_shape(spark, li):
    s = plan_summary(li[li.l_quantity > 10.0][["l_quantity"]].to_spark())
    assert set(s) == {
        "pushed_filters", "read_schema", "shuffles", "broadcast_joins",
        "codegen_stages",
    }
    assert s["codegen_stages"] >= 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Co-located join: both sides bucketed on the join key -> SMJ with
    zero Exchange (the write-time shuffle amortization story)."""
    import eland_spark as es

    base = tmp_path_factory.mktemp("bucketed")
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    li = es.read_parquet(
        spark, f"{SF}/lineitem.parquet",
        index_col=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    )
    bo = es.write_bucketed(orders, "t_orders_b", "o_orderkey", 8,
                           sort_cols="o_orderkey", path=str(base / "o"))
    bl = es.write_bucketed(li, "t_lineitem_b", "l_orderkey", 8,
                           sort_cols="l_orderkey", path=str(base / "l"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bls, bos = bl.to_spark(), bo.to_spark()
        joined = bls.join(bos, bls["l_orderkey"] == bos["o_orderkey"])
        assert shuffle_count(joined) == 0, "bucketed join should not shuffle"
        # same join on the raw (unbucketed) parquet shuffles both sides
        lis, oss = li.to_spark(), orders.to_spark()
        raw = lis.join(oss, lis["l_orderkey"] == oss["o_orderkey"])
        assert shuffle_count(raw) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_matches_plain_join(spark):
    """Skew helper must be a pure rewrite: same rows as the plain join."""
    from eland_spark.operators.skew import salted_join
    import eland_spark as es
    from pyspark.sql import functions as F

    orders = es.read_parquet(spark, f"{SF}/orders.parquet").to_spark()
    cust = es.read_parquet(spark, f"{SF}/customer.parquet").to_spark()
    left = orders.select(F.col("o_custkey").alias("k"), "o_orderkey")
    right = cust.select(F.col("c_custkey").alias("k"), "c_name")
    plain = left.join(right, "k").count()
    salted = salted_join(left, right, "k", salt=4).count()
    assert plain == salted


def test_two_phase_count_distinct_matches_exact(spark):
    from eland_spark.operators.skew import two_phase_count_distinct
    import eland_spark as es
    from pyspark.sql import functions as F

    li = es.read_parquet(spark, f"{SF}/lineitem.parquet").to_spark()
    exact = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_distinct"))
        .toPandas().set_index("l_returnflag")["n_distinct"].to_dict()
    )
    two = (
        two_phase_count_distinct(li, ["l_returnflag"], "l_partkey")
        .toPandas().set_index("l_returnflag")["n_distinct"].to_dict()
    )
    assert exact == two


def test_salted_join_rejects_right_full(spark):
    from eland_spark.operators.skew import salted_join
    import eland_spark as es

    orders = es.read_parquet(spark, f"{SF}/orders.parquet").to_spark()
    with pytest.raises(ValueError, match="per salt"):
        salted_join(orders, orders, "o_orderkey", how="full")


def test_two_phase_count_distinct_ignores_nulls(spark):
    from eland_spark.operators.skew import two_phase_count_distinct
    from pyspark.sql import functions as F
    import pandas as pd

    pdf = pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, None, None]})
    sdf = spark.createDataFrame(pdf)
    got = (
        two_phase_count_distinct(sdf, ["k"], "v")
        .toPandas().set_index("k")["n_distinct"].to_dict()
    )
    exact = (
        sdf.groupBy("k").agg(F.countDistinct("v").alias("n"))
        .toPandas().set_index("k")["n"].to_dict()
    )
    # must agree EXACTLY, including the all-null group appearing with 0
    assert got == exact == {"a": 1, "b": 0}


def test_ann_bruteforce_plan_is_take_ordered(spark):
    """Brute-force top-k must compile to per-partition top-k + driver
    merge (TakeOrderedAndProject), never a global sort shuffle."""
    import eland_spark as es
    from eland_spark.operators.similarity import cosine_topk
    from eland_spark.plans import explain_str

    emb = es.read_parquet(spark, f"{SF}/embeddings.parquet", index_col="vec_id")
    qvec = [0.1] * 64
    out = cosine_topk(emb, qvec, k=10).to_spark()
    assert "TakeOrderedAndProject" in explain_str(out)
    assert shuffle_count(out) == 0


def test_ivf_partitioned_probe_prunes_partitions(spark, tmp_path):
    """ivf_write + ivf_read_topk: the probe scan must show partition
    filters on __cell__ and agree with brute-force top-k when every
    probed cell is included."""
    import eland_spark as es
    from eland_spark.operators.similarity import (
        cosine_topk, ivf_index, ivf_read_topk, ivf_write,
    )
    from eland_spark.plans import explain_str

    emb = es.read_parquet(spark, f"{SF}/embeddings.parquet", index_col="vec_id")
    centroids = ivf_index(emb, n_cells=4, max_iter=2)
    p = str(tmp_path / "ivf_table")
    ivf_write(emb, p, centroids)

    qrow = emb.to_spark().filter("vec_id = 0").select("embedding").collect()
    qvec = [float(x) for x in qrow[0]["embedding"]]

    probed = ivf_read_topk(spark, p, qvec, centroids, k=5, nprobe=2)
    text = explain_str(probed)
    assert "PartitionFilters" in text and "__cell__" in text

    # full probe (nprobe = all cells) must equal exact brute force
    full = ivf_read_topk(spark, p, qvec, centroids, k=5, nprobe=4).collect()
    exact = cosine_topk(emb, qvec, k=5).to_spark().select("vec_id").collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]


def test_es_match_fuzzy_stays_jvm_side(spark):
    """Fuzzy es_match compiles to levenshtein-in-exists HOF — never a
    Python UDF (no BatchEvalPython/ArrowEvalPython in the plan)."""
    docs = es.read_parquet(spark, f"{SF}/documents.parquet", index_col="doc_id")
    out = docs[docs.es_match("spak", columns=["text"], fuzziness="AUTO")].to_spark()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert "levenshtein" in plan.lower()


def test_es_date_parse_stays_jvm_side(spark):
    from pyspark.sql import functions as F

    from eland_spark.functions.dates import es_date_parse

    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    out = orders.to_spark().select(
        es_date_parse(F.date_format("o_orderdate", "yyyyMMdd"), "basic_date"),
        es_date_parse(F.date_format("o_orderdate", "yyyy-DDD"), "week_date"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_repetition_stats_shuffle_free_jvm_side(spark):
    """Repetition signals are a pure per-row map: no exchange, no
    Python eval — the plan that scales linearly on 100 TB of text."""
    from pyspark.sql import functions as F

    from eland_spark.operators.text import repetition_frame

    docs = es.read_parquet(spark, f"{SF}/documents.parquet", index_col="doc_id")
    out = repetition_frame(docs.to_spark(), F.col("text"), F.col("doc_id"))
    assert shuffle_count(out) == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_groupby_mode_single_aggregation(spark):
    """gb.mode compiles to ONE hash aggregation over the keys (no
    per-column windows, no second shuffle)."""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    out = orders.groupby("o_orderstatus")._lazy(
        [__import__("pyspark.sql.functions", fromlist=["mode"]).mode("o_totalprice", True).alias("m")]
    ).to_spark()
    assert shuffle_count(out) == 1


def test_groupby_idxmax_single_aggregation(spark):
    """gb.idxmax is one min_by agg — one shuffle, no window/self-join."""
    from pyspark.sql import functions as F

    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    v = F.col("o_totalprice").cast("double")
    pair = F.when(v.isNotNull(), F.struct((-v).alias("o"), F.col("o_orderkey").alias("i")))
    out = (
        orders.to_spark()
        .groupBy("o_orderstatus")
        .agg(F.min_by(F.col("o_orderkey"), pair).alias("idx"))
    )
    assert shuffle_count(out) == 1
    text = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "partial_min_by" in text, "no map-side partial aggregation"


def test_knn_join_broadcasts_queries_single_shuffle(spark):
    """knn_join: queries broadcast, 3-column rows through ONE shuffle
    (the per-query rank window) — never a shuffled cross join."""
    from pyspark.sql import functions as F

    from eland_spark.operators.similarity import knn_join

    emb = es.read_parquet(spark, f"{SF}/embeddings.parquet", index_col="vec_id")
    queries = emb.to_spark().filter(F.col("vec_id") < 3)
    out = knn_join(emb, queries, k=5)
    assert broadcast_join_count(out) >= 1
    assert shuffle_count(out) == 1
    # row-number semantics: exactly k rows per query
    counts = {r["query_id"]: r["n"] for r in
              out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts.values()) == {5}


def test_groupby_transform_single_shuffle_no_join(spark):
    """transform compiles to exchange+window — one shuffle on the group
    key, no join-back, no EvalPython."""
    li = es.read_parquet(
        spark,
        f"{SF}/lineitem.parquet",
        index_col=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    )
    out = (
        li[["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_returnflag", "l_quantity"]]
        .groupby("l_returnflag")
        .transform("sum")
        .to_spark()
    )
    assert shuffle_count(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "EvalPython" not in plan


def test_rolling_time_agg_single_shuffle(spark):
    """rolling_time_agg: one hash exchange on the keys, RANGE window,
    no self-join."""
    from eland_spark.operators.windowed import rolling_time_agg

    ev = es.read_parquet(spark, f"{SF}/events.parquet", index_col="event_id")
    out = rolling_time_agg(ev, "user_id", "ts", "value", 3600, ["sum"]).to_spark()
    assert shuffle_count(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "EvalPython" not in plan


def test_duplicated_single_shuffle(spark):
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    out = orders.duplicated(subset=["o_custkey"]).to_spark()
    assert shuffle_count(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_split_by_hash_zero_shuffle(spark):
    from eland_spark.operators.sampling import split_by_hash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = split_by_hash(docs, "doc_id", {"a": 0.5, "b": 0.5})
    assert shuffle_count(out) == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_redact_zero_shuffle_codegen(spark):
    from pyspark.sql import functions as F

    from eland_spark.operators.text import redact

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.select(redact(F.col("text")).alias("r"))
    assert shuffle_count(out) == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_decontaminate_corpus_never_shuffled_by_shingle(spark):
    """contamination_flags: the benchmark side broadcasts into the
    semi-join — the only hash exchanges are on the doc id (hit-dedup +
    flag join-back), never on the exploded shingles."""
    from pyspark.sql import functions as F

    from eland_spark.operators.dedup import contamination_flags

    docs = es.read_parquet(spark, f"{SF}/documents.parquet", index_col="doc_id")
    bench = docs.to_spark().filter(F.col("source") == "src2").select("text")
    out = contamination_flags(docs, bench, "text", "doc_id", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 1, plan
    # exactly ONE exchange keyed by the shingle column — the (tiny)
    # benchmark-side distinct; the corpus side never repartitions by it
    sh_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "__s__" in line
    ]
    assert len(sh_exchanges) == 1, plan


def test_perplexity_scoring_is_shuffle_free(spark):
    """unigram_logppl: the LM is a broadcast map literal, so the
    scoring stage is a pure map — zero exchanges."""
    from pyspark.sql import functions as F

    from eland_spark.operators.text import unigram_logppl

    docs = es.read_parquet(spark, f"{SF}/documents.parquet", index_col="doc_id")
    out = unigram_logppl(docs.to_spark(), F.col("text"), F.col("doc_id"), top_v=50)
    assert shuffle_count(out) == 0, plan_summary(out)


def test_rank_tie_window_reuses_range_exchange(spark):
    """Series.rank(average) on an integer value: the tie window's
    clustered distribution is satisfied by the range partitioning on
    the value — no extra hash exchange. (Float values keep the extra
    exchange: Spark wraps float window keys in NaN/-0.0 normalization,
    which range partitioning on the raw column cannot satisfy.)"""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    out = orders["o_custkey"].rank(method="average").to_spark()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_series_shift_has_no_window_node(spark):
    """Series.shift is join-based: positions from the range-sort rank
    operator, value via self-equi-join — NO Window node and no
    single-partition exchange anywhere in the plan."""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    out = orders["o_totalprice"].shift(1).to_spark()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_series_cumsum_never_single_partition(spark):
    """Series.cumsum windows over position BUCKETS (balanced hash
    exchange), never an empty-PARTITION-BY single-partition window."""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    out = orders["o_custkey"].cumsum().to_spark()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_groupby_cum_ops_single_keyed_window(spark):
    """groupby cumsum/shift: one keyed window — hash exchange on the
    group keys, no single-partition exchange."""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    for out in [
        orders.groupby("o_orderpriority").cumsum().to_spark(),
        orders.groupby("o_orderpriority").shift(1).to_spark(),
        orders.groupby("o_orderpriority").cumcount().to_spark(),
    ]:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan
        assert shuffle_count(out) == 1, plan_summary(out)


def test_rolling_never_single_partition(spark):
    """Series.rolling windows over overlap-padded buckets — balanced
    hash exchange, no single-partition window."""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    out = orders["o_custkey"].rolling(5).sum().to_spark()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_cap_per_key_single_hash_exchange(spark):
    """cap_per_key: one hash exchange on the key, never a
    single-partition exchange — the per-domain cap must scale."""
    from eland_spark.operators.sampling import cap_per_key

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = cap_per_key(docs, "source", 10, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert shuffle_count(out) == 1, plan_summary(out)
    assert "Exchange SinglePartition" not in plan, plan


def test_token_budget_grouped_single_hash_exchange(spark):
    """sample_to_token_budget (grouped): one hash exchange on the
    group; the prefix sum is a streaming window, no single partition."""
    from eland_spark.operators.sampling import sample_to_token_budget

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sample_to_token_budget(
        docs, "n_chars", 3000, id_col="doc_id", group_col="source"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert shuffle_count(out) == 1, plan_summary(out)
    assert "Exchange SinglePartition" not in plan, plan


def test_token_budget_global_no_single_partition(spark):
    """sample_to_token_budget (global): the windowless bucket plan —
    range + one balanced hash exchange, NO single-partition window."""
    from eland_spark.operators.sampling import sample_to_token_budget

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sample_to_token_budget(docs, "n_chars", 3000, id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_ppl_buckets_only_language_exchange(spark):
    """perplexity_buckets: scoring is a broadcast-LM map stage; the
    ONLY exchange is the per-language ntile hash partition."""
    from pyspark.sql import functions as F

    from eland_spark.operators.text import perplexity_buckets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = perplexity_buckets(
        docs, F.col("text"), F.col("doc_id"), F.col("lang"), top_v=50
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert shuffle_count(out) == 1, plan_summary(out)
    assert "Exchange SinglePartition" not in plan, plan


def test_ewm_plans_scale_safe(spark):
    """Grouped ewm: ONE keyed window (hash exchange on the group keys),
    no single-partition exchange. Global ewm: bucket-overlap plan —
    windows partition on bucket ids, never an empty PARTITION BY."""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    g = (
        orders[["o_orderstatus", "o_totalprice"]]
        .groupby("o_orderstatus")
        .ewm(alpha=0.5)
        .mean()
        .to_spark()
    )
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    s = orders["o_totalprice"].ewm(alpha=0.5).mean().to_spark()
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_frame_ewm_engine_matches_series(spark):
    """Frame and Series ewm share one global kernel and its engine
    choice: a kernel wider than 8 lags (span=20 -> W=369) plans pandas'
    C kernel per padded bucket (the grouped-pandas node), never the
    window engine's O(W)-per-row higher-order folds."""
    orders = es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")
    for out in (
        orders[["o_custkey", "o_totalprice"]].ewm(span=20).mean().to_spark(),
        orders["o_totalprice"].ewm(span=20).mean().to_spark(),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan, plan
        assert "Window" not in plan, plan


def test_round2_operator_plan_shapes(spark):
    """Scale pins for the round's new operators: scaling is a
    zero-shuffle literal projection, corpus profiling is one hash
    aggregation (plus the countDistinct expand pair), the classifier
    feature build shuffles once on (doc, bucket), and temperature
    oversampling stays a zero-shuffle filter+explode."""
    from pyspark.sql import functions as F

    from eland_spark.operators.classifier import hashed_features
    from eland_spark.operators.sampling import sample_by_temperature
    from eland_spark.operators.scaling import standard_scale

    li = es.read_parquet(spark, f"{SF}/lineitem.parquet").to_spark()
    docs = es.read_parquet(spark, f"{SF}/documents.parquet").to_spark()

    z = standard_scale(li, ["l_quantity"])
    assert shuffle_count(z) == 0, plan_summary(z)

    feats = hashed_features(docs, "text", "doc_id", n_buckets=256)
    assert shuffle_count(feats) == 1, plan_summary(feats)

    over = sample_by_temperature(
        docs, "source", "doc_id", target_rows=900, alpha=0.3,
        allow_oversample=True,
    )
    assert shuffle_count(over) == 0, plan_summary(over)
    plan = over._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan, plan  # the explode, not a join


def test_covariance_shuffle_is_moment_sized(spark):
    """The covariance plan's exchanges carry O(d^2) moment rows, never
    vectors: the only wide data pass is the mapInPandas scan."""
    from eland_spark.operators.decomposition import covariance_matrix

    emb = es.read_parquet(spark, f"{SF}/embeddings.parquet").to_spark()
    cov = covariance_matrix(emb)
    plan = cov._jdf.queryExecution().executedPlan().toString()
    # embeddings never cross an exchange: no exchange node carries the
    # embedding column (moment rows are (kind, i, j, v))
    for frag in plan.split("Exchange")[1:]:
        head = frag.splitlines()[0]
        assert "embedding" not in head, head


def test_dup_spans_and_bloom_plan_shapes(spark):
    """Round-2 additions: the substring-duplication profile has no
    Window/cartesian and its dup-set mark join broadcasts under AQE;
    the bloom build is one hash aggregation over the exploded
    positions; the bloom probe is one join plus one AND-fold
    aggregation."""
    from pyspark.sql import functions as F

    from eland_spark.operators.dedup import duplicate_span_stats
    from eland_spark.operators.sketches import bloom_contains, bloom_sketches

    docs = es.read_parquet(spark, f"{SF}/documents.parquet").to_spark()

    spans = duplicate_span_stats(docs, F.col("text"), F.col("doc_id"), k=8)
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "Window" not in plan, plan

    sk = bloom_sketches(docs, "doc_id", ["source"], m_bits=8192, n_hashes=4)
    assert shuffle_count(sk) == 1, plan_summary(sk)

    probes = docs.select("source", "doc_id")
    res = bloom_contains(sk, probes, "doc_id", ["source"], m_bits=8192, n_hashes=4)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "Window" not in plan, plan


def test_simhash_two_level_banding_plan(spark):
    """The simhash candidate join must be an EQUI-join on the two-level
    pigeonhole block keys (band bits AND sub-band bits — the 2^28 key
    space that keeps random collisions sub-quadratic at 100x), never a
    cartesian/nested-loop, and never a join on band bits alone."""
    from pyspark.sql import functions as F

    from eland_spark.operators.dedup import simhash_near_dup_pairs

    docs = es.read_parquet(spark, f"{SF}/documents.parquet").to_spark()
    pairs = simhash_near_dup_pairs(
        docs, F.col("text"), F.col("doc_id"), k=2, max_hamming=3
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    join_lines = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "__bits__" in ln
    ]
    assert join_lines, plan
    # every candidate join keys on band index + band bits + sub bits
    for ln in join_lines:
        assert "__bs__" in ln and "__sub__" in ln, ln


def test_lint_plan_flags_hazards_and_clears_clean_plans(spark):
    """The static scale-hazard linter: cartesian products,
    single-partition exchanges and row-at-a-time Python UDFs are
    errors; a pushdown-clean aggregation plan is a clean bill."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from eland_spark.plans import lint_plan

    li = es.read_parquet(spark, f"{SF}/lineitem.parquet").to_spark()
    ord_ = es.read_parquet(spark, f"{SF}/orders.parquet").to_spark()

    # clean: pushed filter + single-shuffle agg -> no error findings
    clean = (
        li.filter(F.col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"))
    )
    assert not [f for f in lint_plan(clean) if f["severity"] == "error"]

    # all-pairs join -> flagged (CartesianProduct when neither side
    # broadcasts; BroadcastNestedLoopJoin when one does, as here)
    cart = li.crossJoin(ord_)
    rules = {f["rule"] for f in lint_plan(cart)}
    assert rules & {"cartesian-product", "nested-loop-join"}

    # global window without PARTITION BY -> single-partition exchange
    from pyspark.sql import Window

    w = Window.orderBy("l_orderkey")
    cliff = li.withColumn("rn", F.row_number().over(w))
    rules = {f["rule"] for f in lint_plan(cliff) if f["severity"] == "error"}
    assert "single-partition-exchange" in rules

    # row-at-a-time python UDF -> error
    bad_udf = F.udf(lambda x: x + 1, LongType())
    slow = li.select(bad_udf(F.col("l_orderkey")))
    rules = {f["rule"] for f in lint_plan(slow) if f["severity"] == "error"}
    assert "python-row-udf" in rules

    # arrow-batched python -> info only
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ok_udf(s: pd.Series) -> pd.Series:
        return s + 1

    vec = li.select(ok_udf(F.col("l_orderkey")))
    sevs = {f["severity"] for f in lint_plan(vec)}
    assert "error" not in sevs


def test_no_query_plan_has_error_hazards(spark):
    """Meta-gate: every queries() entry must lint clean of
    error-severity scale hazards (cartesian products, single-partition
    exchanges, row-at-a-time Python UDFs). Warn-level findings
    (broadcast nested-loop) are allowed only for the documented
    broadcast-bounded operators."""
    import importlib.util

    from eland_spark.plans import lint_plan

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    # single-partition BY DESIGN: the *_seq packing twins replay the
    # sequential next-fit state machine on one sorted partition so the
    # DuckDB recursive-CTE oracle can check it exactly; the scale path
    # is pack_documents (per-partition parallel, zero shuffle)
    intentionally_sequential = {"pack_documents_seq", "pack_assemble"}

    offenders = {}
    for name, fn in sorted(m.queries().items()):
        if name in intentionally_sequential:
            continue
        df = fn(spark, SF)
        errs = [f for f in lint_plan(df) if f["severity"] == "error"]
        if errs:
            offenders[name] = [f["rule"] for f in errs]
    assert not offenders, offenders


def test_heavy_headline_query_plan_pins(spark):
    """Exact exchange/broadcast pins for the most expensive headline
    queries (VERDICT r2 #6) — a plan regression (lost broadcast, extra
    shuffle, cartesian fallback) fails here before it shows up as a
    bench timing regression. Counts audited in the r2 plan review:
    dsir_select's 8 exchanges are each model-sized or the single
    (doc,bucket) feature agg; cross_near_dup broadcasts the reference
    side so the corpus never shuffles by shingle."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    queries = m.queries()

    pins = {
        # name: (max shuffles, min broadcast joins)
        "dsir_select": (8, 2),
        "cross_near_dup": (3, 3),
        "dup_spans": (6, 2),
        "freq_tokens": (6, 0),
    }
    for name, (max_shuffles, min_bcast) in pins.items():
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert shuffle_count(df) <= max_shuffles, (
            f"{name}: {shuffle_count(df)} shuffles > pinned "
            f"{max_shuffles}\n{plan_summary(df)}"
        )
        assert broadcast_join_count(df) >= min_bcast, (
            f"{name}: broadcast joins "
            f"{broadcast_join_count(df)} < pinned {min_bcast}\n"
            f"{plan_summary(df)}"
        )


def test_ngram_jaccard_never_cartesian(spark):
    """q_ngram_jaccard (VERDICT r3 #1) is the minhash-banded candidate
    join + exact-jaccard verification — NOT an all-pairs self-join. At
    sf0.1 a crossJoin would hide behind AQE's broadcast nested-loop; at
    100x the build side stops broadcasting and it becomes a
    CartesianProduct. Pin: no BNLJ/Cartesian even with broadcasts
    disabled entirely (the 100 TB shape)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # editdist_near_dup shares the candidate-then-verify shape and
        # the same pin (its verifier is pairwise Levenshtein instead)
        for name in ("ngram_jaccard", "editdist_near_dup"):
            df = m.queries()[name](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_round3_bench_query_plan_pins(spark):
    """Exchange/broadcast pins for the four r3 bench headliners
    (VERDICT r3 #6), audited like the r2 batch at test above:
    bpe_train's per-iteration merge loop is driver-side over a
    model-sized pair table (0 exchanges in the returned vocab frame);
    zorder_cluster is one range exchange for the z-key sort;
    shard_by_budget is the prefix-sum bucket plan (driver carries only
    per-bucket totals); allocate_budget joins domain-sized stats —
    8 exchanges, every one over a domain-cardinality table, plus a
    broadcast of the allocation literal."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    queries = m.queries()

    pins = {
        # name: (max shuffles, min broadcast joins)
        "bpe_train": (0, 0),
        "zorder_cluster": (1, 0),
        "shard_by_budget": (4, 0),
        "allocate_budget": (8, 1),
    }
    for name, (max_shuffles, min_bcast) in pins.items():
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert shuffle_count(df) <= max_shuffles, (
            f"{name}: {shuffle_count(df)} shuffles > pinned "
            f"{max_shuffles}\n{plan_summary(df)}"
        )
        assert broadcast_join_count(df) >= min_bcast, (
            f"{name}: broadcast joins "
            f"{broadcast_join_count(df)} < pinned {min_bcast}\n"
            f"{plan_summary(df)}"
        )


def test_segment_dedup_and_gopher_plan_shapes(spark):
    """segment_dedup: winner-per-key is a map-side-combinable hash agg
    + join, NOT a window over the (boilerplate-skewed) segment key —
    no Window node keyed by the segment hash; bounded exchanges.
    gopher_quality: one per-row Column pass, zero shuffle."""
    from eland_spark.operators.dedup import segment_dedup
    from eland_spark.operators.text import gopher_quality_frame

    docs = es.read_parquet(spark, f"{SF}/documents.parquet").to_spark()

    out = segment_dedup(docs, "text", "doc_id", sep=" the ", joiner=" the ")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    # explode->winner agg->join->reassembly->doc join: a handful of
    # hash exchanges, none single-partition
    assert 2 <= shuffle_count(out) <= 5, plan_summary(out)
    assert "SinglePartition" not in plan, plan

    g = gopher_quality_frame(docs, "text", "doc_id")
    assert shuffle_count(g) == 0, plan_summary(g)


def test_round4_query_plan_pins(spark):
    """Exchange/broadcast pins for the r4 batch. quality_suite: one
    full-scan agg + one keyed uniqueness agg + one broadcast
    referential join — 5 exchanges, all constraint- or agg-sized.
    profile_table: plain-metrics agg + distinct-count agg combined by
    a 1-row broadcast (the split avoids the measured SortAggregate
    cliff when exact multi-distinct mixes with string min/max
    buffers). pagerank: per-round lineage is truncated by lazy
    checkpoints, so the visible plan carries only the final round's
    node-sized exchanges. funnel: one user shuffle + the
    constraint-sized summary agg. rolling_zscore: exactly one keyed
    window exchange. editdist_near_dup: candidate join fan-in, every
    join a broadcast of the (signature-table-derived) sides."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    queries = m.queries()

    pins = {
        # name: (max shuffles, min broadcast joins)
        "quality_suite": (5, 1),
        "profile_table": (3, 1),
        # r8 lazy unroll (the label_propagation treatment, unlocked by
        # dropping the redundant where(outdeg>0) contrib pre-filter
        # whose pushdown de-canonicalized the branch subtrees): the
        # WHOLE 3-round plan is one job, so every textual exchange is
        # visible to the pin — edge dedup/repartition + nodes/outdeg/
        # base + 3 rounds x (contrib join + agg [+ dangling scalar]);
        # AQE's stage cache executes repeated round subtrees once
        "pagerank": (18, 10),
        "pagerank_personalized": (26, 14),
        "graph_degrees": (2, 0),
        "editdist_near_dup": (2, 3),
        "rolling_zscore": (1, 0),
        "funnel": (2, 0),
        "funnel_chains": (1, 0),
        # k-chained-min-agg: per-round lazy checkpoints truncate the
        # chain lineage (one events scan per step, computed once), so
        # the visible plan is the final round's user-keyed join + agg
        # plus the summary agg — all O(1) state per user
        "funnel_skew_safe": (3, 0),
        # label table broadcast onto the scan — zero shuffles
        "reindex": (1, 1),
        # driver-fold as-of matches: isin-pruned scan + broadcast
        # join-back + literal miss rows — zero shuffles (r8 opt)
        "reindex_ffill": (0, 1),
        # engine-side key union + one left join per side
        "align_outer": (3, 0),
        # bucketed padded frame + one Arrow applyInPandas per bucket
        "rolling_apply": (3, 0),
        "cohort_retention": (3, 1),
        "wide_to_long": (2, 0),
        # single keyed window exchange each
        "time_weighted_avg": (1, 0),
        "counter_rate": (1, 0),
        # pure zero-shuffle projection
        "get_dummies": (0, 0),
        # every exchange bin-/score-cardinality: two count aggs, the
        # null-safe bin join, the totals scalar + its broadcast
        "drift_psi": (9, 1),
        # distinct-score agg + the bucket prefix-sum plan + scalar agg
        "eval_auc": (6, 0),
        "eval_confusion": (1, 0),
        "frame_rolling": (3, 0),
    }
    for name, (max_shuffles, min_bcast) in pins.items():
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert shuffle_count(df) <= max_shuffles, (
            f"{name}: {shuffle_count(df)} shuffles > pinned "
            f"{max_shuffles}\n{plan_summary(df)}"
        )
        assert broadcast_join_count(df) >= min_bcast, (
            f"{name}: broadcast joins "
            f"{broadcast_join_count(df)} < pinned {min_bcast}\n"
            f"{plan_summary(df)}"
        )


def test_round5_query_plan_pins(spark):
    """r5 batch pins. bm25_topk: the score pass is map-only into
    TakeOrderedAndProject — zero exchanges at any corpus size (the
    stats pass is a separate scalar agg that ran at build time).
    incremental_near_dup: the increment side broadcasts into the
    bucket join and the sig re-attach, so the stored (100 TB) index
    never hash-shuffles by bucket — the three exchanges are the two
    signature groupBys plus the bounded per-increment flag agg."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    queries = m.queries()

    pins = {
        "bm25_topk": (0, 0),
        "incremental_near_dup": (3, 2),
        # cluster-keyed split: the r9 round-0 driver union-find returns
        # component labels as a broadcast-hinted local frame, so the
        # whole plan is one corpus scan + one broadcast label join; the
        # split itself is a zero-shuffle md5 projection (at unbounded
        # scale the distributed contraction path has its own exchanges
        # — this pin covers the bounded sf0.001 layout)
        "leakage_safe_split": (1, 1),
        # per-token dots map-only; one map-side-combinable doc agg
        "maxsim": (1, 0),
        # two bounded top-k legs ranked by the windowless range-sort
        # (2 range exchanges + 2 rank plumbing) + the fuse agg — all on
        # per-query-k-sized inputs, never corpus-sized
        "hybrid_search": (5, 0),
        # benchmark shingles broadcast; corpus never shuffled by shingle
        "contamination_overlap": (3, 2),
        # one cell agg + the k-row output sort
        "cluster_metrics": (2, 0),
        # one group agg + the group-count-sized output sort
        "corpus_manifest": (2, 0),
        # the shared bucketed-padded rolling plan (rank + pad + frame)
        "rolling_corr": (3, 0),
        # ONE query-keyed exchange: the groupBy reuses the ideal-rank
        # window's hash partitioning
        "rank_metrics": (1, 0),
        # one bin agg (checkpointed); total rides a 1-row broadcast
        "calibration": (1, 1),
        # contingency cells checkpointed: po/marginals/pe all re-aggs
        "cohens_kappa": (4, 2),
        # per-value count aggs -> checkpointed join -> bucket prefix-sum
        # -> scalar agg; snapshots stream through once
        "drift_ks": (6, 1),
        # cell agg checkpointed; marginals broadcast back; scalar agg
        "assoc_lang_source": (5, 3),
        # one moment agg per snapshot + the 1-row scalar join
        "welch_ttest": (2, 1),
        # same checkpointed distinct-value prefix-sum plan as drift_ks
        "rank_sum_test": (6, 0),
        # KS + MWU fused: ONE prefix-sum pass serves both running
        # totals; strictly no more exchanges than either test alone
        "drift_scorecard": (6, 1),
        # pair counts checkpointed; BOTH axes' midranks ride ONE shared
        # keyed_midranks pass (r6 — r5 built the distinct-value +
        # prefix-sum scaffolding per axis, pin was 12), itself
        # checkpointed distinct-value-sized; two joins + one scalar agg
        # remain visible — every exchange distinct-(pair|value)-sized,
        # never row data
        "spearman": (4, 0),
        # the shared bucketed-padded rolling plan (rank + pad + frame)
        "rolling_quantile": (3, 0),
        # distinct-value counts + prefix-sum + one join back
        "rank_uniform": (7, 1),
        # rank_uniform's plan + the ref landmark pass; the lerp onto
        # the 101-landmark array literal is zero-shuffle
        "quantile_normalize": (9, 1),
        # one keyed window exchange
        "groupby_rolling_quantile": (1, 0),
        # both moments share the one bucketed padded pass
        "rolling_skew_kurt": (3, 0),
        # one rank pass + one lag join + one k-keyed agg
        "acf": (3, 0),
        # one range-rank exchange + the single shared-Window bucket
        # exchange; totals collect is bucket-count-sized
        "expanding_skew_kurt": (3, 0),
        # one full-scan regr_* agg each (group-cardinality output)
        "linear_fit": (1, 0),
        "groupby_linear_fit": (1, 0),
        # one keyed window exchange
        "groupby_rolling_skew": (1, 0),
        # truncated-kernel bucket-overlap plan (rank + pad + frame)
        "ewm_std": (3, 0),
        # one Arrow applyInPandas riding the group shuffle
        "groupby_ewm_std": (1, 0),
        # wide-kernel (921-lag) grouped ewm: same single group shuffle —
        # the arrow C kernel is O(1) per row at any span
        "groupby_ewm_wide": (1, 0),
        # rank + bucketed MA + position shift join + phase broadcast —
        # every exchange dense-position- or period-sized
        "seasonal_decompose": (11, 1),
        # two bin-count aggs + null-safe full join + totals broadcast +
        # scalar agg — every exchange after the counts is bin-sized
        "drift_js": (10, 1),
        # one keyed window pass builds the panel; cells/items/marginals
        # re-aggs are cell-sized; 1-row broadcast assembly
        "fleiss_kappa": (5, 2),
        # ONE flagged gram-keyed side-counts agg (no clipped-match join;
        # r8 opt) + the scalar agg; lengths are the order-1 gram sums
        "corpus_bleu": (2, 0),
        # ONE keyed exchange serves both window passes and the run agg
        "scd2_history": (1, 0),
        # knn_join's single query-keyed exchange + the bounded per-query
        # greedy's group exchange; queries and candidates broadcast
        "mmr_rerank": (2, 2),
        # one distinct-score agg + the descending bucket prefix-sum;
        # the positives total rides a 1-row broadcast
        "pr_curve": (7, 1),
        # per-(key,value) count aggs + join + ONE keyed window pass +
        # key agg; BH rides the driver-local fold (battery-sized) as a
        # map literal — the distributed prefix passes only above 1000
        # distinct p-values (r7: 12 -> 5 shuffles, 4.2 -> 2.3s)
        "drift_battery": (5, 0),
        # pair self-join + ONE flagged gram-keyed side-counts agg (no
        # clipped join; r8 opt) + per-(pair, order) re-agg + per-order
        # maps back to pair lengths
        "rouge_n": (8, 0),
        # SCD2's one keyed exchange + the asof running-fill pass + the
        # final small group agg
        "pit_join": (3, 0),
        # training jobs run eagerly (vocab/EM collects are model-sized,
        # like median_quantile's boundary rows); the returned model
        # frame is a driver literal
        "unigram_train": (0, 0),
        # one piece-count agg after the zero-shuffle Arrow segment pass
        "unigram_segment": (1, 0),
        # ONE flagged gram-keyed side-counts agg (no clipped join; r8
        # opt) + the scalar agg; per-order totals/lengths are the
        # side-count sums
        "chrf": (2, 0),
        # per-user agg + per-(cohort,time) agg; at-risk/survival ride
        # ONE keyed window exchange (distinct-time-sized)
        "kaplan_meier": (3, 0),
        # ONE token-pair explode trains every count table (unigrams and
        # ctx are vocab-sized re-aggs of the bigram table: c(w) =
        # sum_v c(v,w) exactly), score side rides explode_outer
        # sentinels (no empties anti/union branch). The (v,w) agg
        # subtree compiles once per reference (9 textual exchanges) but
        # AQE's stage cache executes it once at runtime — the
        # label_propagation precedent; the 3 count joins + scalar total
        # broadcast at this SF (hash joins when the vocab outgrows the
        # threshold — nothing is forced)
        "bigram_logppl": (9, 4),
        # shingle rows + df agg + rare join + pair-count agg + 4
        # dict-sized size joins + the verify join + final sizes — every
        # exchange shingle- or candidate-sized, verify only sees
        # count-pruned pairs
        "containment_near_dup": (11, 13),
        # ONE class aggregation (count + countDistinct expand)
        "k_anonymity": (2, 0),
        # anchors agg + draw fan-out + corpus semi + positives anti +
        # bounded per-anchor window
        "negative_sample": (4, 3),
        # bigram df agg + blocked candidate join + pair distinct; the
        # rare set + sides broadcast at this SF; JW verify is one
        # Arrow stage over candidates only
        "fuzzy_title_match": (3, 3),
        # one distinct-value agg + ONE keyed window exchange; the
        # quantile assembly re-uses the group partitioning
        "weighted_quantiles": (2, 0),
        # r8 lazy unroll: the WHOLE 3-round plan is one job now (no
        # per-round checkpoint barriers), so every exchange is visible
        # to the pin — sym dedup/repartition + 3 rounds x (label join
        # + 2 aggs) + the community-size agg; AQE's stage cache
        # executes the repeated sym/label subtrees once at runtime
        "label_propagation": (13, 0),
        # ditto: edge dedup/repartition + 3 steps x (frontier join +
        # argmin agg) + the step union tail
        "random_walks": (16, 0),
        # ONE keyed window (lag) sharing the group partitioning with
        # the final hash agg
        "forecast_metrics": (1, 0),
        # posexplode_outer + doc-keyed windows + per-doc assembly on
        # ONE exchange and ONE scan — empty docs ride a (null, null)
        # sentinel row through the same plan (r8 opt: the anti-join
        # union branch re-tokenized the corpus on a second scan)
        "span_corrupt": (1, 0),
        # rank/count + ordered prefix sums + final agg on ONE keyed
        # window exchange
        "trimmed_stats": (1, 0),
    }
    for name, (max_shuffles, min_bcast) in pins.items():
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert shuffle_count(df) <= max_shuffles, (
            f"{name}: {shuffle_count(df)} shuffles > pinned {max_shuffles}"
        )
        assert broadcast_join_count(df) >= min_bcast, (
            f"{name}: broadcast joins {broadcast_join_count(df)} < "
            f"pinned {min_bcast}"
        )
    assert "TakeOrderedAndProject" in (
        queries["bm25_topk"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the JW verify UDF must evaluate ONCE, post-distinct: unmarked,
    # the optimizer pushes the threshold filter (and the UDF with it)
    # below the candidate distinct and plans a second ArrowEvalPython
    # (guide §4.4); linkage.py pins it asNondeterministic
    assert (
        queries["fuzzy_title_match"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
        .count("ArrowEvalPython")
    ) == 1


def _collected_plan(monkeypatch, frame) -> tuple[str, "object"]:
    """``frame.to_pandas()`` plus the executed plan of the Spark frame
    it collected."""
    seen = []
    cls = type(frame._sdf)
    collect = cls.toPandas

    def recording(self):
        seen.append(self)
        return collect(self)

    monkeypatch.setattr(cls, "toPandas", recording)
    pdf = frame.to_pandas()
    return seen[0]._jdf.queryExecution().executedPlan().toString(), pdf


def test_to_pandas_skips_spark_sort_when_driver_resorts(spark, li, monkeypatch):
    """The driver re-sorts by the index (and any sort_values keys) on
    the way out, so an unlimited frame is collected without a Spark
    global sort: no range-partition sampling job, no shuffle."""
    filtered = li[li.l_quantity > 40.0]
    plan, pdf = _collected_plan(monkeypatch, filtered)
    assert "rangepartitioning" not in plan, plan
    key = list(li.index_cols)
    assert pdf[key].equals(pdf[key].sort_values(key).reset_index(drop=True))
    # head() keeps its order below the limit
    plan, _ = _collected_plan(monkeypatch, li.sort_values("l_quantity").head(3))
    assert "TakeOrderedAndProject" in plan, plan
