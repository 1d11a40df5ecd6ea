"""pandas_to_spark: the driver-side Arrow writer against the reference
path ``spark.createDataFrame(pdf, schema)``, its write policies, and the
promise that a ``replace`` ingest fires no Spark job."""

import datetime
import decimal
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

import eland_spark as es
from eland_spark.schema import pd_to_spark_type

_NS = ["1969-12-31 23:59:59.999999999", "1850-06-01 12:00:00.123456789",
       "2021-03-04 05:06:07.000000501", None]

# name -> (column values, type override or None)
CASES = {
    "int8": (np.array([-3, 0, 7, 127], dtype="int8"), None),
    "int16": (np.array([-3, 0, 7, 300], dtype="int16"), None),
    "int32": (np.array([-3, 0, 7, 2**31 - 1], dtype="int32"), None),
    "int64": (np.array([-(2**63), 0, 7, 2**63 - 1], dtype="int64"), None),
    "uint8": (np.array([0, 1, 255, 7], dtype="uint8"), None),
    "uint32": (np.array([0, 1, 2**32 - 1, 7], dtype="uint32"), None),
    "uint64": (np.array([0, 1, 2**63 - 1, 7], dtype="uint64"), None),
    "float32": (np.array([1.5, np.nan, -0.25, 3e38], dtype="float32"), None),
    "float64": (np.array([1.5, np.nan, -0.0, np.inf]), None),
    "bool": (np.array([True, False, True, False]), None),
    "object_str": (["a", None, "ü", ""], None),
    "object_mixed": ([1, "x", None, 2.5], None),
    # createDataFrame writes a missing timedelta as the string 'NaT' and
    # fails on a missing integer category; both read back null here
    # (test_missing_values_stay_null), so these two cases hold none
    "timedelta": (pd.to_timedelta([1, 0, 90061, -5], unit="s"), None),
    "datetime_ns": (pd.to_datetime(_NS), None),
    "datetime_us": (pd.to_datetime(_NS).as_unit("us"), None),
    "datetime_tz": (pd.to_datetime(_NS).tz_localize("US/Eastern"), None),
    "Int64": (pd.array([1, None, -(2**63), 2**63 - 1], dtype="Int64"), None),
    "UInt16": (pd.array([1, None, 65535, 0], dtype="UInt16"), None),
    "boolean": (pd.array([True, None, False, True], dtype="boolean"), None),
    "string": (pd.array(["x", None, "y", ""], dtype="string"), None),
    "category_str": (pd.Categorical(["x", None, "y", "x"]), None),
    "category_int": (pd.Categorical([3, 1, 2, 3]), None),
    "decimal": ([decimal.Decimal("1.25"), None, decimal.Decimal("-9.99"),
                 decimal.Decimal("0")], T.DecimalType(10, 2)),
    "int_override": (np.array([1, -2, 2**31 - 1, 0]), T.IntegerType()),
    "short_override": (np.array([1, -2, 300, 0]), T.ShortType()),
    "byte_override": (np.array([1, -2, 100, 0]), T.ByteType()),
    "float_override": (np.array([1.5, np.nan, -0.25, 2.0], dtype="float32"), T.FloatType()),
    "date_from_datetime": (pd.to_datetime(_NS), T.DateType()),
    "date_from_objects": ([datetime.date(2020, 1, 2), None,
                           datetime.date(1700, 2, 3), datetime.date(1969, 12, 31)],
                          T.DateType()),
    "timestamp_ntz": (pd.to_datetime(_NS), T.TimestampNTZType()),
    "binary": ([b"ab", None, b"", b"\x00\xff"], T.BinaryType()),
    "array_override": ([[1, 2], None, [], [3, None]], T.ArrayType(T.LongType())),
}


def _frame(values, n=None):
    pdf = pd.DataFrame({"i": np.arange(4, dtype="int64"), "v": values})
    return pdf if n is None else pdf.iloc[:n]


def _both(spark, pdf, override, path):
    """(written-and-read-back, reference) Spark frames for ``pdf``."""
    overrides = {"v": override} if override is not None else None
    got = es.pandas_to_spark(
        pdf, spark, path, use_pandas_index_for_id=False, type_overrides=overrides
    ).to_spark()
    schema = T.StructType([
        T.StructField(c, (overrides or {}).get(c) or pd_to_spark_type(pdf[c].dtype), True)
        for c in pdf.columns
    ])
    return got, spark.createDataFrame(pdf, schema)


def _rows(sdf):
    return sorted(sdf.collect(), key=lambda r: r["i"])


@pytest.mark.parametrize("case", sorted(CASES))
def test_ingest_matches_create_dataframe(spark, tmp_path, case):
    values, override = CASES[case]
    got, ref = _both(spark, _frame(values), override, str(tmp_path / "t"))
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)
    # a later schema-inferring read of the files agrees
    assert es.read_parquet(spark, str(tmp_path / "t")).to_spark().schema == ref.schema
    # an empty frame keeps its schema and reads back empty
    got0, ref0 = _both(spark, _frame(values, 0), override, str(tmp_path / "t0"))
    assert got0.schema == ref0.schema
    assert got0.collect() == [] == ref0.collect()


def test_missing_values_stay_null(spark, tmp_path):
    pdf = pd.DataFrame({
        "td": pd.to_timedelta([1, None], unit="s"),
        "cat": pd.Categorical([3, None]),
        "mixed": pd.Series([1, np.nan], dtype=object),
    })
    sdf = es.pandas_to_spark(pdf, spark, str(tmp_path / "nulls"),
                             use_pandas_index_for_id=False).to_spark()
    assert sdf.schema.simpleString() == "struct<td:string,cat:bigint,mixed:string>"
    assert sorted(sdf.collect(), key=lambda r: r["cat"] is None) == [
        ("0:00:01", 3, "1"), (None, None, None)]


def test_naive_timestamps_are_session_zone_wall_times(spark, tmp_path):
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        pdf = _frame(pd.to_datetime(["1950-01-01 00:00", "2020-07-01 12:30", None,
                                     "2015-11-01 01:30"]))
        got, ref = _both(spark, pdf, None, str(tmp_path / "ny"))
        assert got.schema == ref.schema
        assert _rows(got) == _rows(ref)
        shown = [r[0] for r in got.orderBy("i").selectExpr("cast(v as string)").collect()]
        assert shown[:2] == ["1950-01-01 00:00:00", "2020-07-01 12:30:00"]
    finally:
        spark.conf.set(key, old)


def test_uint64_above_int64_max_names_the_column(spark, tmp_path):
    pdf = pd.DataFrame({"big": np.array([1, 2**63 + 5], dtype="uint64")})
    with pytest.raises(ValueError, match="'big'"):
        es.pandas_to_spark(pdf, spark, str(tmp_path / "u"))
    assert not os.path.exists(tmp_path / "u")


def test_non_file_scheme_is_refused(spark):
    pdf = pd.DataFrame({"a": [1]})
    with pytest.raises(ValueError, match="local filesystem"):
        es.pandas_to_spark(pdf, spark, "hdfs://namenode/tmp/t")


def test_file_uri_and_file_split(spark, tmp_path):
    pdf = pd.DataFrame({"a": np.arange(1000)})
    out = es.pandas_to_spark(pdf, spark, f"file://{tmp_path}/split")
    parts = [f for f in os.listdir(tmp_path / "split") if f.endswith(".parquet")]
    assert len(parts) == spark.sparkContext.defaultParallelism
    assert out.shape[0] == 1000
    # a frame shorter than the parallelism writes one file per row
    es.pandas_to_spark(pdf.head(3), spark, str(tmp_path / "short"))
    assert len(os.listdir(tmp_path / "short")) == min(3, spark.sparkContext.defaultParallelism)


def test_replace_fires_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    path = str(tmp_path / "nojob")
    pdf = pd.DataFrame({"a": np.arange(500), "ts": pd.date_range("2020", periods=500)})
    es.pandas_to_spark(pdf, spark, path)
    group = "test_replace_fires_no_spark_job"
    sc.setJobGroup(group, "ingest")
    try:
        before = list(tracker.getJobIdsForGroup(group))
        out = es.pandas_to_spark(pdf.head(200), spark, path, if_exists="replace")
        after_write = list(tracker.getJobIdsForGroup(group))
        assert out.shape[0] == 200  # the tracker does see this group's jobs
        after_count = list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert before == [] and after_write == []
    assert len(after_count) >= 1


def test_failed_replace_leaves_old_table(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    path = str(tmp_path / "keep")
    pdf = pd.DataFrame({"a": np.arange(100)})
    es.pandas_to_spark(pdf, spark, path)
    real = pq.write_table
    calls = []

    def failing(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("disk full")
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing)
    with pytest.raises(OSError, match="disk full"):
        es.pandas_to_spark(pdf.head(10) * 0, spark, path, if_exists="replace")
    monkeypatch.undo()
    back = es.read_parquet(spark, path).to_pandas()
    assert sorted(back["a"]) == list(range(100))
    # no temp dir is left behind next to the table
    assert os.listdir(tmp_path) == ["keep"]


def test_multiindex_levels_become_index_columns(spark, tmp_path):
    idx = pd.MultiIndex.from_tuples([(1, "x"), (1, "y"), (2, "x")], names=["k", None])
    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0]}, index=idx)
    df = es.pandas_to_spark(pdf, spark, str(tmp_path / "mi"))
    assert df.index_cols == ("k", "level_1")
    got = df.to_pandas().sort_values(["k", "level_1"]).reset_index(drop=True)
    want = pdf.reset_index()
    assert got.to_dict("list") == want.to_dict("list")


def test_append_int_then_bigint_reads_back_widened(spark, tmp_path):
    """Widening appends read back as the wider type. Each pair also
    widens the other way round (a/x widen on append, b/y held the wide
    type first), so no single file's schema can read the whole table."""
    path = str(tmp_path / "wide")
    first = pd.DataFrame({"a": [1, 2], "b": [3, 4],
                          "x": np.array([0.5, 1.5], dtype="float32"), "y": [0.25, 0.75]})
    es.pandas_to_spark(first, spark, path, use_pandas_index_for_id=False,
                       type_overrides={"a": T.IntegerType(), "x": T.FloatType()})
    second = pd.DataFrame({"a": [2**40], "b": [5], "x": [2.25],
                           "y": np.array([1.25], dtype="float32")})
    out = es.pandas_to_spark(second, spark, path, if_exists="append",
                             use_pandas_index_for_id=False,
                             type_overrides={"b": T.IntegerType(), "y": T.FloatType()})
    sdf = out.to_spark()
    assert sdf.schema.simpleString() == "struct<a:bigint,b:bigint,x:double,y:double>"
    assert sorted(tuple(r) for r in sdf.collect()) == [
        (1, 3, 0.5, 0.25), (2, 4, 1.5, 0.75), (2**40, 5, 2.25, 1.25)]


def test_append_timestamp_onto_date_is_not_compatible(spark, tmp_path):
    path = str(tmp_path / "dates")
    first = pd.DataFrame({"d": [datetime.date(2020, 1, 1)]})
    es.pandas_to_spark(first, spark, path, use_pandas_index_for_id=False,
                       type_overrides={"d": T.DateType()})
    second = pd.DataFrame({"d": pd.to_datetime(["2020-01-02 03:04"])})
    with pytest.raises(ValueError, match="not compatible"):
        es.pandas_to_spark(second, spark, path, if_exists="append",
                           use_pandas_index_for_id=False)
    assert es.read_parquet(spark, path).shape[0] == 1
