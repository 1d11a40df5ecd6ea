"""Streaming windows vs their batch twins on the events table —
the streaming result (availableNow, memory sink) must equal the batch
aggregation over the same files."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    from eland_spark.streaming import read_events_stream

    return read_events_stream(spark, f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    import eland_spark as es

    return es.read_parquet(spark, f"{sf_dir}/events.parquet").to_spark()


def test_tumbling_matches_batch(spark, events_stream, events_batch):
    from eland_spark.streaming import stream_to_memory, tumbling_windowed

    res = tumbling_windowed(events_stream, duration="1 day", watermark="1 day")
    stream_to_memory(res, "tumbling_test", "complete", 120)
    got = spark.sql(
        "SELECT window_start, n_events, round(total_value, 2) tv FROM tumbling_test"
    ).toPandas()

    exp = (
        events_batch.groupBy(F.date_trunc("day", F.col("ts")).alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("tv"))
        .toPandas()
    )
    got = got.sort_values("window_start").reset_index(drop=True)
    exp = exp.sort_values("window_start").reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["n_events"].to_numpy() == exp["n_events"].to_numpy()).all()
    assert (abs(got["tv"].to_numpy() - exp["tv"].to_numpy()) < 1e-6).all()


def test_sliding_window_counts(spark, events_stream, events_batch):
    from eland_spark.streaming import sliding_windowed, stream_to_memory

    res = sliding_windowed(
        events_stream, duration="2 days", slide="1 day", watermark="1 day"
    )
    stream_to_memory(res, "sliding_test", "complete", 120)
    got = spark.sql("SELECT sum(n_events) s FROM sliding_test").collect()[0]["s"]
    total = events_batch.count()
    # each event falls into exactly 2 overlapping windows
    assert got == 2 * total


def test_session_window_matches_batch_sessionize(spark, events_stream, sf_dir):
    from eland_spark.streaming import session_windowed, stream_to_memory
    import eland_spark as es
    from eland_spark.operators.windowed import sessionize

    res = session_windowed(events_stream, gap="30 minutes", watermark="10 days")
    stream_to_memory(res, "session_test", "complete", 180)
    got = spark.sql(
        "SELECT count(*) n, sum(n_events) total FROM session_test"
    ).collect()[0]

    ev = es.read_parquet(spark, f"{sf_dir}/events.parquet", index_col="event_id")
    batch = sessionize(ev, "user_id", "ts", 1800, "session_id")
    bsess = (
        batch.to_spark()
        .groupBy("user_id", "session_id")
        .count()
    )
    assert got["n"] == bsess.count()
    assert got["total"] == ev.to_spark().count()


def test_stateful_sessionize_matches_session_window(spark, events_stream, sf_dir):
    """applyInPandasWithState sessionizer must find the same sessions as
    the stock session_window (same gap), plus distinct-type counts."""
    import eland_spark as es
    from eland_spark.operators.windowed import sessionize
    from eland_spark.streaming import stream_to_memory
    from eland_spark.streaming.stateful import sessionize_with_state

    res = sessionize_with_state(
        events_stream, gap="30 minutes", watermark="10 days"
    )
    stream_to_memory(res, "stateful_session_test", "append", 180)
    got = spark.sql(
        "SELECT count(*) n, sum(n_events) total, max(n_types) mt "
        "FROM stateful_session_test"
    ).collect()[0]

    ev = es.read_parquet(spark, f"{sf_dir}/events.parquet", index_col="event_id")
    batch = sessionize(ev, "user_id", "ts", 1800, "session_id")
    bsess = batch.to_spark().groupBy("user_id", "session_id").count()
    n_batch_sessions = bsess.count()
    n_events = ev.to_spark().count()

    # every batch session appears; ones still open at end-of-stream may
    # be withheld by the final watermark, so allow <= but require
    # near-complete closure and exact event conservation per closed one
    assert got["n"] <= n_batch_sessions
    assert got["n"] >= n_batch_sessions - 20  # at most one open per user
    assert got["total"] <= n_events
    assert got["mt"] >= 1


def test_watermark_drops_late_data(spark, tmp_path):
    """Three real micro-batches (files appearing between
    processAllAvailable calls): on-time events, a watermark advancer,
    then a very-late event. Append-mode tumbling agg must emit the first
    window WITHOUT the late row, and never emit the still-open last
    window."""
    import pandas as pd

    from eland_spark.streaming import read_events_stream, tumbling_windowed

    d = tmp_path / "late_events"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pdf.to_parquet(str(d / name), index=False)

    write("f1.parquet", [
        (1, "2024-01-01 00:05:00", 1, "a", 1.0),
        (2, "2024-01-01 00:20:00", 1, "a", 2.0),
    ])

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    res = tumbling_windowed(stream, duration="1 hour", watermark="1 hour")
    q = (
        res.writeStream.format("memory").queryName("late_test")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()  # batch 1: wm -> 1969 (00:20 - 1h clamps)
        write("f2.parquet", [(3, "2024-01-01 06:00:00", 1, "b", 4.0)])
        q.processAllAvailable()  # batch 2: wm -> 05:00, 00:00-window emits
        # late: 00:30 < watermark 05:00 -> must be dropped
        write("f3.parquet", [(4, "2024-01-01 00:30:00", 1, "a", 8.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.sql(
        "SELECT window_start, n_events, total_value FROM late_test ORDER BY window_start"
    ).toPandas()
    assert len(got) == 1, got  # only the closed 00:00 window; 06:00 still open
    assert got.loc[0, "n_events"] == 2  # late 00:30 row dropped
    assert got.loc[0, "total_value"] == 3.0


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys arriving across micro-batches inside the watermark
    horizon are dropped; state is watermark-bounded (the 100 TB/day
    contract — see streaming.windows.stream_dedup)."""
    import pandas as pd

    from eland_spark.streaming import read_events_stream, stream_dedup

    d = tmp_path / "dedup_events"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pdf.to_parquet(str(d / name), index=False)

    write("f1.parquet", [
        (1, "2024-01-01 00:05:00", 1, "a", 1.0),
        (2, "2024-01-01 00:10:00", 1, "a", 2.0),
    ])

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    res = stream_dedup(stream, ["event_id"], watermark="1 hour")
    q = (
        res.writeStream.format("memory").queryName("dedup_test")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event 1 again (in-horizon duplicate) + fresh event 3
        write("f2.parquet", [
            (1, "2024-01-01 00:12:00", 1, "a", 99.0),
            (3, "2024-01-01 00:15:00", 2, "b", 3.0),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.sql(
        "SELECT event_id, value FROM dedup_test ORDER BY event_id"
    ).toPandas()
    assert list(got["event_id"]) == [1, 2, 3]
    # the FIRST sighting of event 1 won (value 1.0, not 99.0)
    assert got.loc[0, "value"] == 1.0


def test_stream_enrich_matches_batch(spark, events_stream, events_batch, sf_dir):
    from eland_spark.streaming import stream_enrich, stream_to_memory

    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    res = stream_enrich(events_stream, dim, on="user_id").groupBy(
        "c_mktsegment"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
    stream_to_memory(res, "enrich_test", "complete", 120)
    got = {
        r["c_mktsegment"]: (r["n"], r["tv"])
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    exp_df = (
        events_batch.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
    )
    exp = {r["c_mktsegment"]: (r["n"], r["tv"]) for r in exp_df.collect()}
    assert got == exp and len(got) > 0


def test_stream_stream_join_matches_batch(spark, sf_dir, events_batch):
    from eland_spark.streaming import read_events_stream, stream_stream_join

    left_s = read_events_stream(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "click"
    )
    right_s = read_events_stream(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_join(
        left_s, right_s, on="user_id", within="1 hour", watermark="30 days"
    ).select(F.col("l.event_id").alias("le"), F.col("r.event_id").alias("re"))
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT count(*) n FROM ssj_test").collect()[0]["n"]

    lb = events_batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("lts")
    )
    rb = events_batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("ru"), F.col("ts").alias("rts")
    )
    exp = lb.join(
        rb,
        (F.col("u") == F.col("ru"))
        & (F.col("rts") >= F.col("lts") - F.expr("INTERVAL 1 hour"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 1 hour")),
    ).count()
    assert got == exp > 0


def test_stream_to_parquet_stateless(spark, events_stream, events_batch, tmp_path):
    """Checkpointed parquet append of a stateless transform must equal
    the batch filter over the same files (exactly-once file sink)."""
    from eland_spark.streaming import stream_to_parquet

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    res = events_stream.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    )
    stream_to_parquet(res, out, ckpt, timeout_sec=180)
    got = spark.read.parquet(out)
    exp = events_batch.filter(F.col("event_type") == "click")
    assert got.count() == exp.count()
    g = got.agg(F.round(F.sum("value"), 2).alias("s")).collect()[0]["s"]
    e = exp.agg(F.round(F.sum("value"), 2).alias("s")).collect()[0]["s"]
    assert g == e


def test_foreach_batch_upsert_matches_batch_twin(spark, sf_dir, events_batch, tmp_path):
    """Update-mode tumbling agg through the idempotent upsert sink,
    resolved merge-on-read, must equal the batch aggregation — and a
    restart from the same checkpoint must be a no-op."""
    from eland_spark.streaming import (
        foreach_batch_parquet_upsert,
        read_events_stream,
        read_upserted,
        tumbling_windowed,
    )

    out, ckpt = str(tmp_path / "upsert"), str(tmp_path / "ckpt2")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    res = tumbling_windowed(stream, duration="1 day", watermark="1 day")
    foreach_batch_parquet_upsert(res, out, ckpt, timeout_sec=180)

    got = read_upserted(spark, out, ["window_start"]).toPandas()
    exp = (
        events_batch.groupBy(F.date_trunc("day", F.col("ts")).alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
    )
    got = got.sort_values("window_start").reset_index(drop=True)
    exp = exp.sort_values("window_start").reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["n_events"].to_numpy() == exp["n_events"].to_numpy()).all()
    assert (
        abs(got["total_value"].to_numpy() - exp["total_value"].to_numpy()) < 1e-6
    ).all()

    # restart: same checkpoint, no new input -> resolved result unchanged
    stream2 = read_events_stream(spark, f"{sf_dir}/events.parquet")
    res2 = tumbling_windowed(stream2, duration="1 day", watermark="1 day")
    foreach_batch_parquet_upsert(res2, out, ckpt, timeout_sec=180)
    again = read_upserted(spark, out, ["window_start"]).toPandas()
    assert len(again) == len(got)
    assert abs(again["total_value"].sum() - got["total_value"].sum()) < 1e-6


def test_compact_upserted_preserves_resolution(spark, sf_dir, tmp_path):
    import glob

    from eland_spark.streaming import (
        compact_upserted,
        foreach_batch_parquet_upsert,
        read_events_stream,
        read_upserted,
        tumbling_windowed,
    )

    out, ckpt = str(tmp_path / "ups"), str(tmp_path / "ck")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    res = tumbling_windowed(stream, duration="6 hours", watermark="1 day")
    foreach_batch_parquet_upsert(res, out, ckpt, timeout_sec=180)
    # force a second batch dir so compaction has work
    read_upserted(spark, out, ["window_start"]).limit(0).write.mode(
        "overwrite"
    ).parquet(f"{out}/batch=999")
    before = read_upserted(spark, out, ["window_start"]).toPandas()
    new_id = compact_upserted(spark, out, ["window_start"])
    assert new_id == 1000
    assert len(glob.glob(f"{out}/batch=*")) == 1
    after = read_upserted(spark, out, ["window_start"]).toPandas()
    assert len(after) == len(before)
    assert abs(after.total_value.sum() - before.total_value.sum()) < 1e-9


def test_rolling_time_agg_matches_pandas(spark, sf_dir):
    import eland_spark as es
    from eland_spark.operators.windowed import rolling_time_agg

    ev = es.read_parquet(spark, f"{sf_dir}/events.parquet", index_col="event_id")
    r = rolling_time_agg(ev, "user_id", "ts", "value", 6 * 3600, ["sum", "count"])
    got = r.to_spark().toPandas().sort_values("event_id").reset_index(drop=True)
    pdf = ev.to_pandas()

    def ref(g):
        g = g.sort_values("ts").set_index("ts")
        out = g.value.rolling("6h", closed="both").agg(["sum", "count"])
        out["event_id"] = g.event_id.values
        return out

    exp = (
        pdf.groupby("user_id", group_keys=False)
        .apply(ref)
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert (abs(got.rolling_sum - exp["sum"]) < 1e-9).all()
    assert (got.rolling_count.astype(int) == exp["count"].astype(int)).all()
    with pytest.raises(ValueError, match="unsupported rolling aggs"):
        rolling_time_agg(ev, "user_id", "ts", "value", 60, ["median"])


def test_stream_contamination_matches_batch(spark, sf_dir):
    """Stateless streaming decontamination == the batch operator on the
    same files (append mode, no state)."""
    import eland_spark as es
    from pyspark.sql import functions as F

    from eland_spark.operators.dedup import contamination_flags
    from eland_spark.streaming import (
        read_events_stream,
        stream_contamination_flags,
        stream_to_memory,
    )

    bench = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("source") == "src2")
        .select("text")
    )
    sdocs = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    flagged = stream_contamination_flags(sdocs, bench, k=5).select(
        "doc_id", "contaminated"
    )
    stream_to_memory(flagged, "stream_decon_test", "append", 120)
    got = spark.sql("SELECT * FROM stream_decon_test").toPandas()

    docs = es.read_parquet(spark, f"{sf_dir}/documents.parquet", index_col="doc_id")
    exp = contamination_flags(docs, bench, "text", "doc_id", k=5).toPandas()
    assert dict(zip(got.doc_id, got.contaminated)) == dict(
        zip(exp.doc_id, exp.contaminated)
    )
    assert got.contaminated.sum() > 0  # non-degenerate


def test_stream_quality_filter_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from eland_spark.operators.text import quality_score
    from eland_spark.streaming import (
        read_events_stream,
        stream_quality_filter,
        stream_to_memory,
    )

    sdocs = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    kept = stream_quality_filter(sdocs, min_quality=0.55).select("doc_id")
    stream_to_memory(kept, "stream_quality_test", "append", 120)
    got = set(spark.sql("SELECT doc_id FROM stream_quality_test").toPandas().doc_id)

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exp = set(
        batch.withColumn("q", quality_score(F.col("text")))
        .filter(F.col("q") >= 0.55)
        .toPandas()
        .doc_id
    )
    assert got == exp and 0 < len(got) < batch.count()


def test_stream_classifier_gate_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from eland_spark.operators.text import classifier_quality_gate
    from eland_spark.streaming import read_events_stream, stream_to_memory
    from eland_spark.streaming.curation import stream_classifier_gate

    w = {"spark": 0.9, "slow": -0.9, "dup": -1.0}
    sdocs = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    kept = stream_classifier_gate(sdocs, w, threshold=0.52).select("doc_id")
    stream_to_memory(kept, "stream_clf_test", "append", 120)
    got = set(spark.sql("SELECT doc_id FROM stream_clf_test").toPandas().doc_id)

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exp = set(
        classifier_quality_gate(batch, F.col("text"), w, threshold=0.52)
        .toPandas()
        .doc_id
    )
    assert got == exp and 0 < len(got) < batch.count()


def test_stream_url_dedup_bounded_state(spark, sf_dir, tmp_path):
    import pandas as pd
    from pyspark.sql import functions as F

    from eland_spark.streaming import stream_to_memory
    from eland_spark.streaming.curation import stream_url_dedup

    # derive url variants that canonicalize to the same key
    pdf = pd.DataFrame(
        {
            "ev_id": range(8),
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(8), "min"),
            "url": [
                "https://a.com/x", "https://A.com/x/", "https://a.com/x?utm_source=z",
                "http://b.com/y", "http://b.com/y#frag",
                "https://c.com/1", "https://c.com/2", "https://c.com/3",
            ],
        }
    )
    p = str(tmp_path / "urls.parquet")
    src = spark.createDataFrame(pdf)
    src.coalesce(1).write.parquet(p)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(p)
    )
    kept = stream_url_dedup(stream, "url", "ts").select("url_canonical")
    stream_to_memory(kept, "stream_url_test", "append", 120)
    got = sorted(
        spark.sql("SELECT url_canonical FROM stream_url_test").toPandas().url_canonical
    )
    assert got == [
        "http://b.com/y",
        "https://a.com/x",
        "https://c.com/1",
        "https://c.com/2",
        "https://c.com/3",
    ]


def test_continuous_aggregate_matches_batch(spark, sf_dir, tmp_path):
    """Hypertable rollup: streamed per-batch partials, merged at read,
    must equal a from-scratch batch aggregation — at the stored bucket
    AND at a coarser re-bucket; distinct is exact below the sketch K;
    compaction preserves every answer."""
    from pyspark.sql import functions as F

    from eland_spark.streaming import read_events_stream
    from eland_spark.streaming.rollup import (
        compact_rollup, continuous_aggregate, read_rollup,
    )

    path = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    stream = read_events_stream(
        spark, f"{sf_dir}/events.parquet", max_files_per_trigger=1
    )
    q = continuous_aggregate(
        stream, path, ck, "ts", "6 hours", ["event_type"], "value",
        distinct_col="user_id", k=4096,
    )
    q.awaitTermination(120)

    def check():
        got = (
            read_rollup(spark, path, ["event_type"], k=4096)
            .orderBy("bucket", "event_type")
            .toPandas()
        )
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        exp = (
            raw.groupBy(
                F.window("ts", "6 hours").start.alias("bucket"), "event_type"
            )
            .agg(
                F.count("value").alias("n"),
                F.sum("value").alias("total"),
                F.countDistinct("user_id").alias("nd"),
            )
            .orderBy("bucket", "event_type")
            .toPandas()
        )
        assert (got["n"].to_numpy() == exp["n"].to_numpy()).all()
        assert abs(got["total"].to_numpy() - exp["total"].to_numpy()).max() < 1e-6
        # k=4096 >> per-bucket user cardinality -> sketch is exact
        assert (got["approx_distinct"].to_numpy() == exp["nd"].to_numpy()).all()
        # coarser re-bucket without touching raw data
        day = (
            read_rollup(spark, path, ["event_type"], bucket="1 day", k=4096)
            .orderBy("bucket", "event_type")
            .toPandas()
        )
        exp_day = (
            raw.groupBy(F.window("ts", "1 day").start.alias("bucket"), "event_type")
            .agg(F.count("value").alias("n"), F.countDistinct("user_id").alias("nd"))
            .orderBy("bucket", "event_type")
            .toPandas()
        )
        assert (day["n"].to_numpy() == exp_day["n"].to_numpy()).all()
        assert (day["approx_distinct"].to_numpy() == exp_day["nd"].to_numpy()).all()

    check()
    n_rows = compact_rollup(spark, path, ["event_type"], k=4096)
    assert n_rows > 0
    check()  # identical answers after compaction


def test_stream_chunking_matches_batch(spark, sf_dir):
    """chunk_text is a stateless projection, so it runs unchanged on a
    stream (append mode, zero state store) — the at-ingest half of the
    chunk -> pack pipeline."""
    from eland_spark.operators.chunking import chunk_text
    from eland_spark.streaming import read_events_stream, stream_to_memory

    sdocs = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    chunks = chunk_text(sdocs, size=200, overlap=50)
    stream_to_memory(chunks, "stream_chunks_test", "append", 120)
    got = spark.sql(
        "SELECT doc_id, chunk_id, chunk FROM stream_chunks_test"
    ).toPandas()

    batch = chunk_text(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), size=200, overlap=50
    ).toPandas()
    key = ["doc_id", "chunk_id"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch[["doc_id", "chunk_id", "chunk"]].sort_values(key).reset_index(drop=True)
    assert got.equals(batch) and len(got) > 0


def test_rollup_topk_items_exact_regime(spark, sf_dir, tmp_path):
    """Heavy-hitter maps ride the rollup partials: with <= topk distinct
    items the MG merge is exact, so top_items equals a from-scratch
    count at the stored AND a coarser bucket, before and after
    compaction."""
    from pyspark.sql import functions as F

    from eland_spark.streaming.rollup import (
        batch_rollup,
        compact_rollup,
        read_rollup,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "roll")
    # two appends (simulating two micro-batches / backfill chunks)
    h1 = ev.where(F.dayofmonth("ts") <= 15)
    h2 = ev.where(F.dayofmonth("ts") > 15)
    for half in (h1, h2):
        batch_rollup(
            half, path, "ts", "1 day", [], "value",
            item_col="event_type", topk=16,
        )

    def exact(bucket):
        return {
            (r.bucket, r.event_type): r.cnt
            for r in ev.groupBy(
                F.window("ts", bucket).start.alias("bucket"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    def got(bucket=None):
        out = read_rollup(spark, path, [], bucket=bucket, topk=16)
        flat = {}
        for r in out.select("bucket", "top_items").collect():
            for item, cnt in (r.top_items or {}).items():
                flat[(r.bucket, item)] = cnt
        return flat

    assert got() == exact("1 day")
    assert got("30 days") == exact("30 days")
    n = compact_rollup(spark, path)
    assert n > 0
    assert got() == exact("1 day")


def test_stream_bloom_update_matches_from_scratch(spark, tmp_path):
    """Two micro-batches folded into per-batch Bloom sketches must
    OR-merge to exactly the from-scratch sketch of the union, and the
    merged filter must contain every ingested key (no false
    negatives through the streaming path)."""
    import pandas as pd

    from eland_spark.operators.sketches import bloom_contains, bloom_sketches
    from eland_spark.streaming.curation import read_bloom, stream_bloom_update

    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame({"g": ["a", "b"], "k": ["k1", "k2"]})
    b2 = pd.DataFrame({"g": ["a", "b"], "k": ["k3", "k4"]})
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "bloom"
    q = stream_bloom_update(
        stream, str(out), str(tmp_path / "ckpt"), "k", by=["g"],
        m_bits=1024, n_hashes=3,
    )
    q.awaitTermination(120)

    merged = read_bloom(spark, str(out), by=["g"])
    all_rows = spark.createDataFrame(pd.concat([b1, b2]))
    scratch = bloom_sketches(all_rows, "k", ["g"], m_bits=1024, n_hashes=3)
    assert {
        (r["g"], r["word"], r["bits"]) for r in merged.collect()
    } == {(r["g"], r["word"], r["bits"]) for r in scratch.collect()}

    probes = all_rows.select("g", "k")
    res = bloom_contains(merged, probes, "k", ["g"], m_bits=1024, n_hashes=3)
    assert res.filter(~F.col("contained")).count() == 0


def test_stream_gopher_gate_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from eland_spark.operators.text import add_gopher_columns
    from eland_spark.streaming import read_events_stream, stream_to_memory
    from eland_spark.streaming.curation import stream_gopher_gate

    sdocs = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    kept = stream_gopher_gate(sdocs, min_stopword_hits=1).select("doc_id")
    stream_to_memory(kept, "stream_gopher_test", "append", 120)
    got = set(spark.sql("SELECT doc_id FROM stream_gopher_test").toPandas().doc_id)

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exp = set(
        add_gopher_columns(batch, "text", min_stopword_hits=1)
        .filter(F.col("gopher_pass"))
        .toPandas()
        .doc_id
    )
    assert got == exp and 0 < len(got) < batch.count()


def test_stream_c4_clean_matches_batch(spark, sf_dir):
    from eland_spark.streaming import read_events_stream, stream_to_memory
    from eland_spark.streaming.curation import stream_c4_clean

    sdocs = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    kept = stream_c4_clean(
        sdocs, line_sep=" the ", joiner=" the ",
        require_terminal_punct=False, min_words_per_line=5,
        min_kept_lines=2, bad_words=["slow"],
    ).select("doc_id", "clean_text")
    stream_to_memory(kept, "stream_c4_test", "append", 120)
    got = spark.sql("SELECT doc_id, clean_text FROM stream_c4_test").toPandas()

    from eland_spark.operators.text import c4_clean_frame

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exp = (
        c4_clean_frame(batch, "text", "doc_id", line_sep=" the ",
                       joiner=" the ", require_terminal_punct=False,
                       min_words_per_line=5, min_kept_lines=2,
                       bad_words=["slow"])
        .filter("c4_keep")
        .toPandas()
    )
    assert dict(zip(got.doc_id, got.clean_text)) == dict(
        zip(exp.id, exp.clean_text)
    )
    assert 0 < len(got) < batch.count()


def test_stream_kmv_update_matches_from_scratch(spark, tmp_path):
    """Per-batch KMV sketches must merge-on-read to exactly the
    from-scratch estimate of the union (K smallest of a union == union
    of sketches re-trimmed to K), including exact counts below K."""
    import pandas as pd

    from eland_spark.operators.sketches import kmv_estimate, kmv_sketches
    from eland_spark.streaming.curation import read_kmv, stream_kmv_update

    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame({"g": ["a"] * 40 + ["b"] * 10,
                       "k": [f"x{i}" for i in range(40)] + [f"y{i}" for i in range(10)]})
    b2 = pd.DataFrame({"g": ["a"] * 40 + ["b"] * 10,
                       "k": [f"x{i}" for i in range(20, 60)] + [f"z{i}" for i in range(10)]})
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "kmv"
    q = stream_kmv_update(
        stream, str(out), str(tmp_path / "ckpt"), "k", by=["g"], k=32
    )
    q.awaitTermination(120)

    merged = {
        r["g"]: r["estimate"]
        for r in read_kmv(spark, str(out), by=["g"], k=32).collect()
    }
    all_rows = spark.createDataFrame(pd.concat([b1, b2]))
    scratch = {
        r["g"]: r["est"]
        for r in kmv_sketches(all_rows, "k", ["g"], k=32)
        .select("g", kmv_estimate(F.col("kmv"), 32).alias("est"))
        .collect()
    }
    assert merged == scratch
    # group b stayed below K -> the sketch IS the distinct set: exact 20
    assert merged["b"] == 20


def test_stream_sample_update_matches_from_scratch(spark, tmp_path):
    """Bottom-k row samples streamed per batch must merge-on-read to
    the from-scratch sample of all rows (min-K of union), so streamed
    quantiles equal batch quantiles — exactly, when groups fit in K."""
    import pandas as pd

    from eland_spark.operators.sketches import (
        quantile_from_sample,
        sample_sketches,
    )
    from eland_spark.streaming.curation import read_sample, stream_sample_update

    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame({"g": ["a"] * 30, "rid": range(30),
                       "v": [float(i) for i in range(30)]})
    b2 = pd.DataFrame({"g": ["a"] * 30, "rid": range(30, 60),
                       "v": [float(i) for i in range(30, 60)]})
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, rid long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "sample"
    q = stream_sample_update(
        stream, str(out), str(tmp_path / "ckpt"), "v", "rid", by=["g"], k=128
    )
    q.awaitTermination(120)

    merged = read_sample(spark, str(out), by=["g"], k=128)
    got = merged.select(
        "g", quantile_from_sample(F.col("sample"), 0.5).alias("p50")
    ).collect()[0]
    all_rows = spark.createDataFrame(pd.concat([b1, b2]))
    scratch = (
        sample_sketches(all_rows, "v", "rid", ["g"], k=128)
        .select("g", quantile_from_sample(F.col("sample"), 0.5).alias("p50"))
        .collect()[0]
    )
    assert got["p50"] == scratch["p50"]
    # 60 rows < K=128 -> the sample IS the data: exact nearest-rank p50
    assert got["p50"] == 29.0


def test_stream_cms_update_matches_from_scratch(spark, tmp_path):
    """Two micro-batches folded into per-batch count-min sketches must
    SUM-merge to exactly the from-scratch sketch of the union, and the
    merged estimates must never undercount any ingested key."""
    import pandas as pd

    from eland_spark.operators.sketches import cms_estimate, cms_sketches
    from eland_spark.streaming.curation import read_cms, stream_cms_update

    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame({"g": ["a", "a", "b"], "k": ["k1", "k1", "k2"]})
    b2 = pd.DataFrame({"g": ["a", "b", "b"], "k": ["k1", "k2", "k3"]})
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "cms"
    q = stream_cms_update(
        stream, str(out), str(tmp_path / "ckpt"), "k", by=["g"],
        depth=3, width=64,
    )
    q.awaitTermination(120)

    merged = read_cms(spark, str(out), by=["g"])
    all_rows = spark.createDataFrame(pd.concat([b1, b2]))
    scratch = cms_sketches(all_rows, "k", ["g"], depth=3, width=64)
    assert {
        (r["g"], r["row"], r["bucket"], r["cnt"]) for r in merged.collect()
    } == {
        (r["g"], r["row"], r["bucket"], r["cnt"]) for r in scratch.collect()
    }

    truth = {("a", "k1"): 3, ("b", "k2"): 2, ("b", "k3"): 1}
    probes = all_rows.select("g", "k").distinct()
    est = {
        (r["g"], r["item"]): r["est"]
        for r in cms_estimate(merged, probes, "k", by=["g"], depth=3, width=64).collect()
    }
    for k, t in truth.items():
        assert est[k] >= t, (k, est[k], t)


def test_stream_anomaly_matches_batch_rolling_zscore(spark, events_stream, sf_dir):
    """Streaming rolling z-score must equal the batch operator per
    event: same trailing-frame semantics (self excluded, null rows
    occupy slots), same rounding, same flags. The parquet source feeds
    one key-ordered pass so the cross-batch ordering caveat does not
    bite."""
    import eland_spark as es
    from eland_spark.operators.timeseries import rolling_zscore
    from eland_spark.streaming import stream_to_memory
    from eland_spark.streaming.stateful import anomaly_scores_with_state

    res = anomaly_scores_with_state(
        events_stream, window=20, min_periods=5, threshold=2.5,
    )
    stream_to_memory(res, "stream_anomaly_test", "append", 180)
    got = {
        r["event_id"]: (r["zscore"], r["is_anomaly"])
        for r in spark.sql("SELECT * FROM stream_anomaly_test").collect()
    }

    ev = es.read_parquet(spark, f"{sf_dir}/events.parquet").to_spark()
    batch = rolling_zscore(
        ev.select("event_id", "ts", "user_id", "value"),
        "value", ["ts", "event_id"], by="user_id",
        window=20, min_periods=5, threshold=2.5,
    )
    want = {
        r["event_id"]: (r["zscore"], r["is_anomaly"])
        for r in batch.collect()
    }
    assert set(got) == set(want)
    mism = [k for k in want if got[k] != want[k]]
    assert not mism, (len(mism), mism[:5],
                      [(got[k], want[k]) for k in mism[:3]])
    assert any(f for _, f in want.values())  # fixture has real anomalies


def test_stream_funnel_matches_batch_chains(spark, events_stream, sf_dir):
    """Streaming funnel completions must equal the batch funnel_chains
    rows exactly (same greedy chain, same post-hoc window gate)."""
    import eland_spark as es
    from eland_spark.operators.funnel import funnel_chains
    from eland_spark.streaming import stream_to_memory
    from eland_spark.streaming.stateful import funnel_with_state

    steps = ["view", "click", "purchase"]
    res = funnel_with_state(
        events_stream, steps, within_seconds=86400,
    )
    stream_to_memory(res, "stream_funnel_test", "append", 180)
    got = {
        (r["user_id"], r["step_index"], r["step"], r["step_ts"])
        for r in spark.sql("SELECT * FROM stream_funnel_test").collect()
    }

    ev = es.read_parquet(spark, f"{sf_dir}/events.parquet").to_spark()
    want = {
        (r["user_id"], r["step_index"], r["step"], r["step_ts"])
        for r in funnel_chains(ev, steps, within_seconds=86400).collect()
    }
    assert got == want
    assert len(want) > 0


def test_stream_funnel_within_boundary_matches_batch(spark, tmp_path):
    """VERDICT r4 #6: a step landing EXACTLY at first_ts + within must
    count in both engines (gate is inclusive, <=), and one microsecond
    past it must not — pinned stream == batch at the boundary."""
    import pandas as pd

    import eland_spark as es
    from eland_spark.operators.funnel import funnel_chains
    from eland_spark.streaming import stream_to_memory
    from eland_spark.streaming.stateful import funnel_with_state
    from eland_spark.streaming.windows import read_events_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    within = 3600
    pdf = pd.DataFrame(
        [
            # user 1: purchase at exactly t0 + within (inclusive edge)
            (1, "view", t0), (1, "click", t0 + pd.Timedelta(seconds=5)),
            (1, "purchase", t0 + pd.Timedelta(seconds=within)),
            # user 2: purchase one MICROSECOND past the edge
            (2, "view", t0), (2, "click", t0 + pd.Timedelta(seconds=5)),
            (2, "purchase",
             t0 + pd.Timedelta(seconds=within, microseconds=1)),
        ],
        columns=["user_id", "event_type", "ts"],
    )
    path = str(tmp_path / "boundary_events")
    spark.createDataFrame(
        pdf, schema="user_id bigint, event_type string, ts timestamp_ntz"
    ).coalesce(1).write.parquet(path)

    steps = ["view", "click", "purchase"]
    stream = read_events_stream(spark, path)
    res = funnel_with_state(stream, steps, within_seconds=within)
    stream_to_memory(res, "stream_funnel_boundary", "append", 120)
    got = {
        (r["user_id"], r["step_index"], r["step_ts"])
        for r in spark.sql("SELECT * FROM stream_funnel_boundary").collect()
    }
    ev = spark.read.parquet(path)
    want = {
        (r["user_id"], r["step_index"], r["step_ts"])
        for r in funnel_chains(ev, steps, within_seconds=within).collect()
    }
    assert got == want
    # the inclusive edge completes; the microsecond past it does not
    assert (1, 3, (t0 + pd.Timedelta(seconds=within)).to_pydatetime()) in want
    assert not any(u == 2 and i == 3 for u, i, _ in want)
    # skew_safe batch variant agrees at the boundary too
    safe = {
        (r["user_id"], r["step_index"], r["step_ts"])
        for r in funnel_chains(ev, steps, within_seconds=within,
                               skew_safe=True).collect()
    }
    assert safe == want


def test_stream_drift_update_matches_from_scratch(spark, sf_dir, tmp_path):
    """Merged streaming bin counts must equal a from-scratch batch
    binning of the same rows (counts add losslessly), and the PSI of
    stream-vs-reference must equal the batch drift table's."""
    from eland_spark.operators.drift import drift_bins
    from eland_spark.streaming import read_events_stream
    from eland_spark.streaming.curation import (
        read_drift_bins, stream_drift_update,
    )

    edges = [0.0, 25.0, 50.0, 75.0, 100.0]
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    stream_drift_update(
        stream, str(tmp_path / "bins"), str(tmp_path / "ck"),
        "value", edges=edges,
    )
    merged = {r["bin"]: r["n"]
              for r in read_drift_bins(spark, str(tmp_path / "bins")).collect()}

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # identical PSI through the batch path on the same snapshot = 0
    assert all(
        r["psi_term"] == 0.0
        for r in drift_bins(ev, ev, "value", edges=edges).collect()
    )
    # from-scratch binning with the same bin expression
    from eland_spark.operators.drift import _bin_expr
    from pyspark.sql import functions as F

    want = {
        r["bin"]: r["n"]
        for r in ev.where(F.col("value").isNotNull())
        .groupBy(_bin_expr(F.col("value").cast("double"), edges).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert merged == want and sum(want.values()) > 0


def test_stream_mg_update_matches_from_scratch(spark, tmp_path):
    """Two micro-batches folded into per-batch Misra-Gries sketches
    must merge (sum + re-compress) to exactly the from-scratch sketch
    of the union in the exact regime (distinct <= k), and in the lossy
    regime the merged read must keep the heavy-hitter contract: every
    item with true frequency > n/(k+1) present with undercount
    <= n/(k+1)."""
    import pandas as pd

    from eland_spark.operators.sketches import mg_items, mg_sketches
    from eland_spark.streaming.curation import read_mg, stream_mg_update

    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame({"g": ["a"] * 5 + ["b"] * 3,
                       "k": ["x", "x", "y", "z", "x", "u", "u", "v"]})
    b2 = pd.DataFrame({"g": ["a"] * 4 + ["b"] * 2,
                       "k": ["x", "y", "y", "w", "u", "w"]})
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "mg"
    q = stream_mg_update(
        stream, str(out), str(tmp_path / "ckpt_mg"), "k", by=["g"], k=8
    )
    q.awaitTermination(120)

    # exact regime (distinct per group <= k=8): merged == from-scratch
    merged = read_mg(spark, str(out), by=["g"], k=8)
    all_rows = spark.createDataFrame(pd.concat([b1, b2]))
    scratch = mg_sketches(all_rows, "k", ["g"], k=8)
    got = {(r["g"], i, c) for r in merged.collect()
           for i, c in r["mg"].items()}
    want = {(r["g"], i, c) for r in scratch.collect()
            for i, c in r["mg"].items()}
    assert got == want

    # lossy regime: re-read with tiny k, check the MG contract per group
    lossy = mg_items(read_mg(spark, str(out), by=["g"], k=2), ["g"])
    kept = {(r["g"], r["item"]): r["cnt"] for r in lossy.collect()}
    truth = (
        pd.concat([b1, b2]).groupby(["g", "k"]).size().to_dict()
    )
    n_per_g = pd.concat([b1, b2]).groupby("g").size().to_dict()
    for (g, item), true_cnt in truth.items():
        bound = n_per_g[g] / (2 + 1)
        if true_cnt > 2 * bound:  # two merge levels (batch + rollup)
            assert (g, item) in kept, (g, item)
        if (g, item) in kept:
            assert kept[(g, item)] <= true_cnt
            assert true_cnt - kept[(g, item)] <= 2 * bound


def test_stream_regression_matches_batch_fit(spark, tmp_path):
    """Per-batch OLS sufficient statistics summed at read time must
    reproduce the batch linear_fit of the union (monitoring-grade
    numerics: well-conditioned data agrees to ~1e-9 relative)."""
    import pandas as pd
    import numpy as np
    import pytest as _pt

    from eland_spark.operators.timeseries import linear_fit
    from eland_spark.streaming.curation import (
        read_linear_fit, stream_regression_update,
    )

    rng = np.random.RandomState(59)
    src = tmp_path / "src_reg"
    src.mkdir()
    frames = []
    for _ in range(2):
        b = pd.DataFrame({
            "g": rng.choice(["a", "b"], 40),
            "x": rng.uniform(0, 10, 40),
            "y": rng.uniform(0, 10, 40),
        })
        b["y"] = 2.0 * b["x"] + 1.0 + rng.normal(0, 0.5, 40)
        # degenerate groups: constant y with varying x (regr_r2 = 1.0 —
        # the flat line fits exactly) and constant x (null slope/r2)
        b = pd.concat([b, pd.DataFrame({
            "g": ["cy"] * 5 + ["cx"] * 5,
            "x": list(rng.uniform(0, 10, 5)) + [3.0] * 5,
            "y": [7.0] * 5 + list(rng.uniform(0, 10, 5)),
        })], ignore_index=True)
        frames.append(b)
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, x double, y double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "reg"
    q = stream_regression_update(
        stream, str(out), str(tmp_path / "ckpt_reg"), "x", "y", by=["g"]
    )
    q.awaitTermination(120)

    got = {r["g"]: r for r in read_linear_fit(spark, str(out), by=["g"]).collect()}
    all_rows = spark.createDataFrame(pd.concat(frames))
    want = {r["g"]: r for r in
            linear_fit(all_rows, "x", "y", by=["g"]).collect()}
    for g in want:
        assert got[g]["n"] == want[g]["n"]
        for fld in ("slope", "intercept", "r2"):
            if want[g][fld] is None:
                assert got[g][fld] is None, (g, fld)
            else:
                assert got[g][fld] == _pt.approx(want[g][fld], rel=1e-9), (g, fld)
    assert want["cy"]["r2"] == _pt.approx(1.0)  # pin the regr_r2 convention
    assert want["cx"]["slope"] is None and want["cx"]["r2"] is None


def test_stream_rank_scorecard_matches_batch(spark, tmp_path):
    """Merged streamed value counts must reproduce the batch
    rank_scorecard of everything ingested EXACTLY (counts add
    losslessly; the scorecard is a pure function of the counts) —
    nulls/NaN dropped at write time, heavy ties exercised."""
    import numpy as np
    import pandas as pd

    from eland_spark.operators.drift import rank_scorecard
    from eland_spark.streaming.curation import (
        read_rank_scorecard, stream_value_counts_update,
    )

    rng = np.random.RandomState(77)
    src = tmp_path / "src_vc"
    src.mkdir()
    frames = []
    for i in range(2):
        b = pd.DataFrame({
            "x": list(rng.randint(0, 9, 120) / 4.0)
            + [float("nan"), None][i:i + 1]
        })
        frames.append(b)
        spark.createDataFrame(b, "x double").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = (
        spark.readStream.schema("x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_value_counts_update(
        stream, str(tmp_path / "vc"), str(tmp_path / "ck_vc"), "x"
    )
    q.awaitTermination(120)

    ref = spark.createDataFrame(
        pd.DataFrame({"x": list(rng.randint(1, 11, 95) / 4.0)}), "x double"
    )
    got = read_rank_scorecard(
        spark, str(tmp_path / "vc"), ref, "x"
    ).collect()[0].asDict()
    want = rank_scorecard(
        ref, spark.createDataFrame(pd.concat(frames), "x double"), "x"
    ).collect()[0].asDict()
    assert got == want, (got, want)
    assert got["n_cur"] == 240  # the null and the NaN were dropped


def test_stream_ks_battery_matches_batch(spark, tmp_path):
    """Merged streamed PER-KEY value counts must reproduce the batch
    ks_battery of everything ingested EXACTLY — the keyed extension of
    the value-counts store: counts add losslessly, null keys and
    null/NaN values dropped at write time, keys present on only one
    side yield null ks/p."""
    import numpy as np
    import pandas as pd

    from eland_spark.operators.drift import ks_battery
    from eland_spark.streaming.curation import (
        read_ks_battery, stream_keyed_value_counts_update,
    )

    rng = np.random.RandomState(41)
    src = tmp_path / "src_kvc"
    src.mkdir()
    frames = []
    for i in range(2):
        b = pd.DataFrame({
            "k": list(rng.choice(["a", "b", "c"], 100)) + [None, "a"],
            "x": list(rng.randint(0, 9, 100) / 4.0)
            + [1.0, [float("nan"), None][i]],
        })
        frames.append(b)
        spark.createDataFrame(b, "k string, x double").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = (
        spark.readStream.schema("k string, x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_keyed_value_counts_update(
        stream, str(tmp_path / "kvc"), str(tmp_path / "ck_kvc"), "k", "x"
    )
    q.awaitTermination(120)

    ref = spark.createDataFrame(
        pd.DataFrame({
            # key "d" exists only in ref -> ks/p null on the read side
            "k": list(rng.choice(["a", "b", "d"], 90)),
            "x": list(rng.randint(1, 11, 90) / 4.0),
        }),
        "k string, x double",
    )
    got = {
        r["k"]: r.asDict()
        for r in read_ks_battery(
            spark, str(tmp_path / "kvc"), ref, "k", "x"
        ).collect()
    }
    want = {
        r["k"]: r.asDict()
        for r in ks_battery(
            ref,
            spark.createDataFrame(pd.concat(frames), "k string, x double"),
            "k", "x",
        ).collect()
    }
    assert got == want, (got, want)
    assert got["d"]["ks"] is None          # ref-only key
    assert got["c"]["ks"] is None          # stream-only key
    # the null-key and null/NaN-value rows were dropped at write time
    # (2 extra rows per batch: (null, 1.0) and ('a', NaN/null))
    assert sum(r["n_cur"] or 0 for r in got.values()) == 200


def test_stream_kaplan_meier_matches_batch(spark, tmp_path):
    """Merged streamed survival counts must reproduce the batch
    kaplan_meier of every ingested subject EXACTLY (counts add
    losslessly; null durations/events dropped at write time; the read
    path lands in the shared kaplan_meier_from_counts core)."""
    import numpy as np
    import pandas as pd

    from eland_spark.operators.survival import kaplan_meier
    from eland_spark.streaming.curation import (
        read_kaplan_meier, stream_survival_counts_update,
    )

    rng = np.random.RandomState(17)
    src = tmp_path / "src_surv"
    src.mkdir()
    frames = []
    for i in range(2):
        b = pd.DataFrame({
            "g": list(rng.choice(["x", "y"], 80)) + ["x"],
            "t": list(rng.randint(1, 10, 80).astype("float64")) + [None],
            "e": list(rng.randint(0, 2, 80)) + [1],
        })
        frames.append(b)
        spark.createDataFrame(
            b, "g string, t double, e int"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("g string, t double, e int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_survival_counts_update(
        stream, str(tmp_path / "surv"), str(tmp_path / "ck_surv"),
        "t", "e", group_col="g",
    )
    q.awaitTermination(120)

    got = (
        read_kaplan_meier(spark, str(tmp_path / "surv"))
        .toPandas().sort_values(["g", "t"]).reset_index(drop=True)
    )
    all_rows = spark.createDataFrame(
        pd.concat(frames), "g string, t double, e int"
    )
    want = (
        kaplan_meier(all_rows, "t", "e", ["g"])
        .toPandas()
        .rename(columns={"t": "t"})
        .sort_values(["g", "t"]).reset_index(drop=True)
    )
    want = want[got.columns]
    assert got.equals(want), (got, want)


def test_batch_store_format_has_one_writer_and_one_reader():
    """Every merge-on-read store (sketches, counts, upserts) shares the
    ``<path>/batch=<id>/`` layout through one writer and one reader in
    streaming/sinks.py: the per-batch path and the batch-dir glob are
    each spelled exactly once in the streaming package."""
    from pathlib import Path

    import eland_spark.streaming as streaming

    src = "".join(
        p.read_text() for p in sorted(Path(streaming.__file__).parent.glob("*.py"))
    )
    assert src.count("batch={batch_id}") == 1
    assert src.count('"batch=*"') == 1
