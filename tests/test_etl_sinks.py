"""Sinks + ETL round-trips (reference eland/etl.py surface):
to_csv/to_json/to_parquet, iterrows/itertuples streaming,
pandas_to_spark fail/replace/append with schema-compat, es_info."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

import eland_spark as es

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def nation(spark):
    return es.read_parquet(spark, f"{SF}/nation.parquet", index_col="n_nationkey")


def test_to_csv_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_csv")
    nation.to_csv(p)
    back = es.read_csv(spark, p, header=True, index_col="n_nationkey")
    assert back.shape[0] == nation.shape[0]
    a = nation.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    b = back.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    assert list(a["n_name"]) == list(b["n_name"])


def test_to_json_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_json")
    nation.to_json(p)
    back = es.read_json(spark, p, index_col="n_nationkey")
    assert back.shape[0] == nation.shape[0]


def test_to_parquet_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_pq")
    nation.to_parquet(p)
    back = es.read_parquet(spark, p, index_col="n_nationkey")
    assert back.to_pandas().shape == nation.to_pandas().shape


def test_to_orc_roundtrip_with_pushdown(spark, nation, tmp_path):
    p = str(tmp_path / "nation_orc")
    nation.to_orc(p)
    back = es.read_orc(spark, p, index_col="n_nationkey")
    assert back.to_pandas().shape == nation.to_pandas().shape
    # filter reaches the ORC scan (scale contract, same as parquet)
    plan = (
        back[back.n_nationkey > 10]
        .to_spark()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_nationkey" in plan.split("PushedFilters")[1][:120]


def test_save_as_table_read_table_partitioned(spark, nation):
    df = es.save_as_table(nation, "nation_tbl_test", partition_by="n_regionkey")
    try:
        assert df.shape[0] == nation.shape[0]
        back = es.read_table(spark, "nation_tbl_test", index_col="n_nationkey")
        a = nation.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
        b = back.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
        assert list(a["n_name"]) == list(b["n_name"])
        # partition pruning: filtering on the partition column scans a
        # subset of partitions (PartitionFilters in the file scan)
        plan = (
            back[back.n_regionkey == 1]
            .to_spark()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [" in plan
        assert "n_regionkey" in plan.split("PartitionFilters")[1][:160]
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_tbl_test")


def test_iterrows_and_itertuples_stream_all_rows(nation):
    n = nation.shape[0]
    rows = list(nation.iterrows(batch_size=7))
    assert len(rows) == n
    tups = list(nation.itertuples())
    assert len(tups) == n
    assert hasattr(tups[0], "n_name")


def test_pandas_to_spark_fail_replace_append(spark, tmp_path):
    p = str(tmp_path / "tbl.parquet")
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    out = es.pandas_to_spark(pdf, spark, p)
    assert out.shape[0] == 3
    # fail mode on existing path
    with pytest.raises(ValueError, match="already exists"):
        es.pandas_to_spark(pdf, spark, p, if_exists="fail")
    # append with compatible schema
    out = es.pandas_to_spark(pdf, spark, p, if_exists="append")
    assert out.shape[0] == 6
    # append with incompatible schema -> reference-style error
    bad = pd.DataFrame({"a": ["not-an-int"], "b": ["w"]})
    with pytest.raises(ValueError, match="not compatible"):
        es.pandas_to_spark(bad, spark, p, if_exists="append")
    # replace
    out = es.pandas_to_spark(pdf.head(2), spark, p, if_exists="replace")
    assert out.shape[0] == 2


def test_pandas_to_spark_dropna_and_overrides(spark, tmp_path):
    p = str(tmp_path / "tbl2.parquet")
    pdf = pd.DataFrame({"a": [1.0, np.nan, 3.0], "b": ["x", "y", None]})
    out = es.pandas_to_spark(
        pdf, spark, p, dropna=True,
        type_overrides={"a": T.DoubleType()},
    )
    assert out.shape[0] == 1  # only the fully-non-null row survives


def test_es_info_mentions_plan_and_schema(nation):
    info = nation.es_info()
    assert "n_name" in info


def test_write_sorted_files_own_disjoint_ranges(spark, tmp_path):
    """write_sorted's contract, read straight from parquet footers: each
    output file's [min, max] on the sort column is disjoint from every
    other file's — what makes range filters skip whole files at scale."""
    import glob

    import pyarrow.parquet as pq

    li = es.read_parquet(
        spark, f"{SF}/lineitem.parquet",
        index_col=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    )
    p = str(tmp_path / "li_sorted")
    back = es.write_sorted(li, p, "l_orderkey", n_files=8)
    assert back.shape[0] == li.shape[0]

    ranges = []
    for f in glob.glob(f"{p}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
            "l_orderkey"
        )
        lo = min(md.row_group(g).column(col_idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(col_idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {ranges}"
    # and the range filter is pushed to the scan on read
    out = back[back.l_orderkey < 100].to_spark()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_orderkey" in plan.split("PushedFilters")[1][:160]


def test_read_parquet_multi_path_merge_schema(spark, tmp_path):
    """Multi-index-pattern analog (reference eland/field_mappings.py:280-287):
    a list of paths reads as one frame; merge_schema surfaces columns
    missing from one source as nulls."""
    import pandas as pd

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    pd.DataFrame({"id": [1, 2], "x": [10.0, 20.0]}).to_parquet(p1 + ".parquet")
    pd.DataFrame({"id": [3, 4], "x": [30.0, 40.0], "y": ["a", "b"]}).to_parquet(
        p2 + ".parquet"
    )
    df = es.read_parquet(
        spark, [p1 + ".parquet", p2 + ".parquet"], index_col="id", merge_schema=True
    )
    pdf = df.to_pandas().sort_values("id").reset_index(drop=True)
    assert len(pdf) == 4 and "y" in pdf.columns
    assert pdf.loc[0, "y"] is None or pd.isna(pdf.loc[0, "y"])
    assert pdf.loc[2, "y"] == "a"


def test_write_zordered_tightens_both_columns(spark, tmp_path):
    """Z-order keeps per-file min/max spans tight on EVERY clustered
    column (multi-dim file skipping); single-column sort leaves the
    other column's spans at ~the global range."""
    import glob

    import pyarrow.parquet as pq

    import eland_spark as es

    li = es.read_parquet(
        spark,
        "/root/testdata/sf0.01/lineitem.parquet",
        index_col=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    )

    def avg_span_frac(path, col):
        spans, gmin, gmax = [], None, None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        fmin = s.min if fmin is None else min(fmin, s.min)
                        fmax = s.max if fmax is None else max(fmax, s.max)
            spans.append((fmin, fmax))
            gmin = fmin if gmin is None else min(gmin, fmin)
            gmax = fmax if gmax is None else max(gmax, fmax)
        return sum(b - a for a, b in spans) / len(spans) / (gmax - gmin)

    es.write_zordered(li, str(tmp_path / "z"), ["l_partkey", "l_extendedprice"], n_files=16)
    es.write_sorted(li, str(tmp_path / "s"), "l_partkey", n_files=16)

    for col in ["l_partkey", "l_extendedprice"]:
        assert avg_span_frac(str(tmp_path / "z"), col) < 0.6, col
    # the sorted layout is tight on its key but NOT on the other column
    assert avg_span_frac(str(tmp_path / "s"), "l_partkey") < 0.2
    assert avg_span_frac(str(tmp_path / "s"), "l_extendedprice") > 0.8

    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 2 columns"):
        es.write_zordered(li, str(tmp_path / "bad"), ["l_partkey"])


def test_read_parquet_multi_path_conflict_first_wins(spark, tmp_path):
    """Reference field_mappings.py:280-327 semantics: conflicting types
    across index patterns warn and the first mapping wins."""
    import warnings

    import pandas as pd

    import eland_spark as es

    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "v": [10, 20]})
    ).write.parquet(p1)
    spark.createDataFrame(
        pd.DataFrame({"id": [3, 4], "v": [1.5, 2.5], "extra": ["x", "y"]})
    ).write.parquet(p2)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = es.read_parquet(spark, [p1, p2], index_col="id")
        assert any("first path wins" in str(x.message) for x in w)
    pdf = df.to_pandas().sort_values("id")
    assert len(pdf) == 4
    # v kept the FIRST path's bigint type; later doubles cast into it
    assert str(df.to_spark().schema["v"].dataType.simpleString()) == "bigint"
    # column missing from the first path surfaces as nulls there
    assert pdf["extra"].isna().sum() == 2


def test_read_binary_source(spark, tmp_path):
    import eland_spark as es

    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x00\x01\x02\x03")
    (d / "b.bin").write_bytes(b"\xff" * 10)
    (d / "c.txt").write_text("not binary payload")
    df = es.read_binary(spark, str(d), glob="*.bin")
    pdf = df.to_spark().toPandas()
    assert len(pdf) == 2
    assert sorted(len(c) for c in pdf["content"]) == [4, 10]
    # metadata-only projection must prune the content column from the scan
    plan = (
        df.to_spark()
        .select("path", "length")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "content" not in plan


def test_write_sized_targets_file_size(spark, tmp_path):
    from eland_spark.etl import write_sized

    sdf = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    out = str(tmp_path / "sized")
    # tiny target so the 60k-row table must split into several files
    n_files = write_sized(sdf, out, target_file_mb=1)
    import os

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == n_files and n_files > 1
    sizes = [os.path.getsize(os.path.join(out, f)) for f in files]
    # every file within a loose band of the 1 MB target (parquet
    # overhead + sampling error allowed)
    assert max(sizes) < 3 * 1024 * 1024
    back = spark.read.parquet(out)
    assert back.count() == sdf.count()

    # empty frame degrades to a single write
    empty = sdf.where("l_orderkey < 0")
    n0 = write_sized(empty, str(tmp_path / "empty"), target_file_mb=1)
    assert n0 == 1


def test_overwrite_partitions_leaves_others_untouched(spark, tmp_path):
    """Dynamic partition overwrite replaces only the partitions present
    in the incoming frame; sibling partitions survive, and the session
    overwrite mode is restored."""
    import pandas as pd

    import eland_spark as es

    path = str(tmp_path / "parts")
    full = spark.createDataFrame(pd.DataFrame({
        "d": ["a", "a", "b", "c"], "v": [1, 2, 3, 4],
    }))
    full.write.mode("overwrite").partitionBy("d").parquet(path)

    patch = es.DataFrame(spark.createDataFrame(
        pd.DataFrame({"d": ["b"], "v": [99]})
    ))
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    es.overwrite_partitions(patch, path, "d")
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    assert before == after

    got = {(r["d"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1), ("a", 2), ("b", 99), ("c", 4)}


def test_read_parquet_nanos_by_file_then_directory(spark, tmp_path):
    """Parquet TIMESTAMP(NANOS) columns come back as microsecond
    timestamps whether the path names the file or its directory, read
    in that order in one session: the file read leaves nanosAsLong on,
    so a directory read that missed the column would return raw int64
    nanos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "nanos"
    d.mkdir()
    ts = pa.array([1577836800123456789], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1], "ts": ts}), str(d / "part-0.parquet"))
    want = pd.Timestamp("2020-01-01 00:00:00.123456")
    for path in (d / "part-0.parquet", d):
        got = es.read_parquet(spark, str(path), index_col="id").to_pandas()
        assert got["ts"].iloc[0] == want, (path, got.dtypes)
