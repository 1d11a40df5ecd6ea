"""Negative-path probes (reference raises the matching pandas-style
errors): missing columns, conflicting filter args, bad groupby keys,
index-less row ops, incompatible appends."""

import pytest

import eland_spark as es

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return es.read_parquet(spark, f"{SF}/orders.parquet", index_col="o_orderkey")


def test_missing_column_getitem_raises(orders):
    with pytest.raises(KeyError):
        orders["no_such_column"]
    with pytest.raises(KeyError):
        orders[["o_custkey", "no_such_column"]]


def test_missing_column_groupby_raises(orders):
    with pytest.raises(KeyError):
        orders.groupby("no_such_key")


def test_filter_conflicting_args_raises(orders):
    with pytest.raises(TypeError):
        orders.filter(items=["o_custkey"], like="o_")
    with pytest.raises(TypeError):
        orders.filter()


def test_filter_like_on_index_not_implemented(orders):
    with pytest.raises(NotImplementedError):
        orders.filter(like="1", axis=0)


def test_drop_index_requires_index_column(spark):
    nat = es.read_parquet(spark, f"{SF}/nation.parquet")  # no index_col
    with pytest.raises(ValueError, match="index column"):
        nat.drop(index=[1, 2])


def test_drop_missing_column_errors_and_ignore(orders):
    with pytest.raises(KeyError):
        orders.drop(columns=["nope"])
    out = orders.drop(columns=["nope"], errors="ignore")
    assert out.shape[1] == orders.shape[1]


def test_empty_result_aggs_are_sane(orders):
    empty = orders[orders.o_totalprice < 0]
    assert empty.shape[0] == 0
    s = empty.sum()
    assert (s.dropna() >= 0).all()  # sums coalesce to 0.0, not NaN
    assert empty.to_pandas().shape[0] == 0
    assert empty.head(5).to_pandas().shape[0] == 0


def test_groupby_mad_survives_rename(orders):
    renamed = orders.rename(columns={"o_totalprice": "price"})
    out = renamed.groupby("o_orderstatus").mad()
    assert "price" in out.columns
    # values unchanged by the rename
    base = orders.groupby("o_orderstatus").mad()
    assert (out["price"].to_numpy() == base["o_totalprice"].to_numpy()).all()


def test_groupby_mad_on_renamed_key(orders):
    renamed = orders.rename(columns={"o_orderstatus": "status"})
    out = renamed.groupby("status").mad()
    assert out.index.name == "status"
    assert len(out) == 3


def test_histogram_empty_column(orders):
    from eland_spark.operators.histogram import histogram

    empty = orders[orders.o_totalprice < 0]
    edges, counts = histogram(empty, "o_totalprice", bins=5)
    assert len(edges) == 6 and counts.sum() == 0


def test_video_frame_sampling_edges(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from eland_spark.operators.multimodal import sample_video_frames

    pdf = pd.DataFrame({"id": [1, 2, 3], "n": [25, 0, None]})
    sdf = spark.createDataFrame(pdf).select(
        "id", F.struct(F.col("n").cast("int").alias("n_frames")).alias("media")
    )
    out = sample_video_frames(sdf, every_nth=10).toPandas()
    by_id = out.groupby("id")["frame_idx"].apply(list).to_dict()
    assert by_id[1] == [0, 10, 20]      # real frames
    assert 2 not in by_id               # zero-frame video: no phantom frame
    assert by_id[3] == [None] or pd.isna(by_id[3][0])  # null passes through


def test_crosstab_cardinality_guard(spark):
    import pytest

    import eland_spark as es

    # sf0.01 l_extendedprice is near-unique (>10k distinct): must refuse
    # the driver-side pivot instead of OOMing on a million-column frame
    li = es.read_parquet(
        spark, "/root/testdata/sf0.01/lineitem.parquet",
        index_col=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    )
    with pytest.raises(ValueError, match="distinct values"):
        li.crosstab("l_returnflag", "l_extendedprice")


def test_ansi_divide_by_zero_keeps_its_error_class(orders):
    """The session turns PySpark's call-site capture off; an ANSI
    runtime error built through the frame API still raises PySpark's
    ArithmeticException with the DIVIDE_BY_ZERO error class."""
    from pyspark.errors.exceptions.captured import ArithmeticException

    bad = orders.eval("r = o_totalprice / (o_custkey - o_custkey)")
    with pytest.raises(ArithmeticException, match=r"\[DIVIDE_BY_ZERO\]") as err:
        bad.to_pandas()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
