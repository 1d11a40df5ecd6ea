"""Differential tests (vs real pandas) for the second pandas-parity
batch: Series sem/corr/cov/autocorr/replace/duplicated/drop_duplicates/
sort_values/apply and DataFrame abs/round/clip/where/mask/replace/
eval/set_index/reset_index/sort_index/pivot, plus module-level concat.
"""

import numpy as np
import pandas as pd
import pytest

import eland_spark as es


@pytest.fixture(scope="module")
def num(spark, orders_pd):
    # a small numeric frame with a unique index
    pdf = orders_pd[["o_orderkey", "o_custkey", "o_totalprice"]].copy()
    pdf["o_shippriority"] = (pdf["o_orderkey"] % 3).astype("int64")
    sdf = spark.createDataFrame(pdf)
    return es.DataFrame(sdf, index_cols=("o_orderkey",)), pdf


# ------------------------------------------------------------- Series stats


def test_series_sem_corr_cov(num):
    edf, pdf = num
    assert edf["o_totalprice"].sem() == pytest.approx(pdf["o_totalprice"].sem())
    assert edf["o_totalprice"].corr(edf["o_custkey"]) == pytest.approx(
        pdf["o_totalprice"].corr(pdf["o_custkey"])
    )
    assert edf["o_totalprice"].cov(edf["o_custkey"]) == pytest.approx(
        pdf["o_totalprice"].cov(pdf["o_custkey"])
    )


_DEGENERATE_STATS = {
    "std": lambda x, y: x.std(),
    "var": lambda x, y: x.var(),
    "sem": lambda x, y: x.sem(),
    "sem_ddof0": lambda x, y: x.sem(ddof=0),
    "skew": lambda x, y: x.skew(),
    "kurt": lambda x, y: x.kurt(),
    "corr": lambda x, y: x.corr(y),
    "cov": lambda x, y: x.cov(y),
    "cov_ddof0": lambda x, y: x.cov(y, ddof=0),
}


@pytest.mark.parametrize("n", [0, 1, 2])
@pytest.mark.parametrize("stat", sorted(_DEGENERATE_STATS))
def test_series_stats_on_degenerate_inputs_match_pandas(spark, stat, n):
    """Too few observations give NaN, like pandas, never None."""
    pdf = pd.DataFrame(
        {"k": [1, 2][:n], "x": [1.0, 4.0][:n], "y": [3.0, 2.0][:n]}
    )
    edf = es.DataFrame(
        spark.createDataFrame(pdf, "k bigint, x double, y double"),
        index_cols=("k",),
    )
    fn = _DEGENERATE_STATS[stat]
    got = fn(edf["x"], edf["y"])
    exp = fn(pdf["x"], pdf["y"])
    assert isinstance(got, float), got
    if np.isnan(exp):
        assert np.isnan(got)
    else:
        assert got == pytest.approx(exp, rel=1e-12)


def test_series_autocorr(num):
    edf, pdf = num
    got = edf["o_totalprice"].autocorr(2)
    exp = (
        pdf.sort_values("o_orderkey")["o_totalprice"].reset_index(drop=True).autocorr(2)
    )
    assert got == pytest.approx(exp)


def test_series_replace_dict_and_scalar(num):
    edf, pdf = num
    got = (
        edf["o_shippriority"].replace({0: 9}).to_pandas().sort_values().to_numpy()
    )
    exp = pdf["o_shippriority"].replace({0: 9}).sort_values().to_numpy()
    assert (got == exp).all()
    got2 = edf["o_shippriority"].replace(0, 7).to_pandas()
    assert set(got2.unique()) == set(pdf["o_shippriority"].replace(0, 7).unique())


def test_series_duplicated_drop_duplicates(num):
    edf, pdf = num
    got = (
        edf["o_custkey"].duplicated().to_pandas().to_numpy()
    )
    exp = (
        pdf.sort_values("o_orderkey")["o_custkey"]
        .duplicated()
        .to_numpy()
    )
    # both orderings are by index
    assert got.sum() == exp.sum()
    dd = edf["o_custkey"].drop_duplicates().to_pandas()
    assert sorted(dd) == sorted(pdf["o_custkey"].drop_duplicates())


def test_series_sort_values_and_apply(num):
    edf, pdf = num
    got = edf["o_totalprice"].sort_values(ascending=False).to_pandas()
    # to_pandas restores index order; use head-through-frame instead
    s = edf["o_totalprice"].sort_values(ascending=False)
    top = s._frame._sdf.select(s.spark_column).limit(3).toPandas().iloc[:, 0]
    exp = pdf["o_totalprice"].nlargest(3).to_numpy()
    assert np.allclose(top.to_numpy(), exp)
    ap = edf["o_totalprice"].apply(lambda v: v * 2, dtype="double").to_pandas()
    assert np.allclose(
        sorted(ap), sorted(pdf["o_totalprice"] * 2)
    )


# ---------------------------------------------------------------- frame ops


def test_frame_abs_round_clip(spark):
    pdf = pd.DataFrame(
        {"k": [1, 2, 3, 4], "a": [-1.54, 2.46, -3.0, 0.5], "b": [10, -20, 30, -40]}
    )
    edf = es.DataFrame(spark.createDataFrame(pdf), index_cols=("k",))
    assert np.allclose(
        edf.abs().to_pandas()[["a", "b"]], pdf.set_index("k").abs().reset_index()[["a", "b"]]
    )
    assert np.allclose(
        edf.round(1).to_pandas()[["a", "b"]], pdf.round(1)[["a", "b"]]
    )
    assert np.allclose(
        edf.clip(-2, 10).to_pandas()[["a", "b"]], pdf.clip(-2, 10)[["a", "b"]]
    )


def test_frame_abs_raises_on_strings(documents):
    with pytest.raises(TypeError):
        documents.abs()


def test_frame_where_mask(spark):
    pdf = pd.DataFrame({"k": [1, 2, 3, 4], "a": [10.0, 20.0, 30.0, 40.0]})
    edf = es.DataFrame(spark.createDataFrame(pdf), index_cols=("k",))
    cond = edf["a"] > 15
    got = edf.where(cond).to_pandas()
    exp = pdf.set_index("k").where(pdf.set_index("k")["a"] > 15).reset_index()
    assert np.allclose(got["a"].to_numpy(), exp["a"].to_numpy(), equal_nan=True)
    gotm = edf.mask(cond, other=-1.0).to_pandas()
    expm = pdf.set_index("k").mask(pdf.set_index("k")["a"] > 15, other=-1.0).reset_index()
    assert np.allclose(gotm["a"].to_numpy(), expm["a"].to_numpy())


def test_frame_replace_typed_families(spark):
    pdf = pd.DataFrame(
        {"k": [1, 2, 3], "n": [1, 2, 3], "s": ["x", "y", "x"]}
    )
    edf = es.DataFrame(spark.createDataFrame(pdf), index_cols=("k",))
    got = edf.replace({2: 99}).to_pandas()
    assert sorted(got["n"]) == [1, 3, 99]
    assert sorted(got["s"]) == ["x", "x", "y"]  # string col untouched
    got2 = edf.replace("x", "z").to_pandas()
    assert sorted(got2["s"]) == ["y", "z", "z"]
    assert sorted(got2["n"]) == [1, 2, 3]


def test_frame_eval(num):
    edf, pdf = num
    out = edf.eval("ratio = o_totalprice / (o_custkey + 1)").to_pandas()
    exp = pdf.eval("ratio = o_totalprice / (o_custkey + 1)")
    assert np.allclose(sorted(out["ratio"]), sorted(exp["ratio"]))
    ser = edf.eval("o_totalprice * 2")
    assert np.allclose(
        sorted(ser.to_pandas()), sorted(pdf["o_totalprice"] * 2)
    )


def test_set_reset_sort_index(num):
    edf, pdf = num
    re_keyed = edf.set_index("o_custkey", drop=True)
    assert re_keyed.index_cols == ("o_custkey",)
    assert "o_custkey" not in list(re_keyed.columns)
    back = re_keyed.reset_index()
    assert back.index_cols == ()
    assert "o_custkey" in list(back.columns)
    # sort_index returns rows in index order
    si = edf.sort_index().to_pandas()
    assert (si["o_orderkey"].to_numpy() == np.sort(pdf["o_orderkey"].to_numpy())).all()


def test_pivot_raises_on_duplicates_and_reshapes(spark):
    pdf = pd.DataFrame(
        {"i": ["a", "a", "b"], "c": ["x", "y", "x"], "v": [1.0, 2.0, 3.0]}
    )
    edf = es.DataFrame(spark.createDataFrame(pdf), index_cols=())
    got = edf.pivot("i", "c", "v")
    exp = pdf.pivot(index="i", columns="c", values="v")
    assert np.allclose(
        got.to_numpy().astype(float), exp.to_numpy().astype(float), equal_nan=True
    )
    dup = pd.concat([pdf, pdf.iloc[[0]]])
    edup = es.DataFrame(spark.createDataFrame(dup), index_cols=())
    with pytest.raises(ValueError):
        edup.pivot("i", "c", "v")


def test_concat_union_by_name(spark):
    p1 = pd.DataFrame({"k": [1, 2], "a": [1.0, 2.0]})
    p2 = pd.DataFrame({"k": [3, 4], "a": [3.0, 4.0], "b": ["x", "y"]})
    e1 = es.DataFrame(spark.createDataFrame(p1), index_cols=("k",))
    e2 = es.DataFrame(spark.createDataFrame(p2), index_cols=("k",))
    out = es.concat([e1, e2]).to_pandas()
    assert len(out) == 4
    assert set(out.columns) >= {"k", "a", "b"}
    # missing column null-filled for the first frame's rows
    assert out.loc[out["k"] <= 2, "b"].isna().all()
    # axis=1 (implemented r4): outer index alignment, colliding "a"
    # suffixed positionally
    wide = es.concat([e1, e2], axis=1).to_pandas().set_index("k").sort_index()
    assert set(wide.columns) == {"a", "a_1", "b"}
    assert len(wide) == 4  # disjoint indexes -> union
    assert wide.loc[[1, 2], "a"].notna().all() and wide.loc[[1, 2], "a_1"].isna().all()
    assert wide.loc[[3, 4], "a_1"].notna().all() and wide.loc[[3, 4], "a"].isna().all()


def test_groupby_first_last_tail(num):
    edf, pdf = num
    pg = pdf.sort_values("o_orderkey").groupby("o_shippriority")
    got_f = edf.groupby("o_shippriority").first()
    exp_f = pg.first()
    for c in ["o_custkey", "o_totalprice"]:
        assert np.allclose(got_f[c].to_numpy(), exp_f[c].to_numpy())
    got_l = edf.groupby("o_shippriority").last()
    exp_l = pg.last()
    for c in ["o_custkey", "o_totalprice"]:
        assert np.allclose(got_l[c].to_numpy(), exp_l[c].to_numpy())
    got_t = edf.groupby("o_shippriority").tail(2).to_pandas()
    exp_t = pg.tail(2)
    assert sorted(got_t["o_orderkey"]) == sorted(exp_t["o_orderkey"])


# ----------------------------------------------- GroupBy order ops batch 3


def test_groupby_diff_pct_change(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )[["o_orderstatus", "o_totalprice", "o_custkey"]]
    psub = pdf[["o_orderstatus", "o_totalprice", "o_custkey"]]
    g = edf.groupby("o_orderstatus").diff().to_pandas().sort_index()
    w = psub.groupby("o_orderstatus").diff().sort_index()
    assert np.allclose(
        g["o_totalprice"].to_numpy(), w["o_totalprice"].to_numpy(), equal_nan=True
    )
    g2 = edf.groupby("o_orderstatus").pct_change().to_pandas().sort_index()
    w2 = psub.groupby("o_orderstatus").pct_change().sort_index()
    assert np.allclose(
        g2["o_totalprice"].to_numpy(), w2["o_totalprice"].to_numpy(), equal_nan=True
    )


def test_groupby_ngroup_matches_pandas(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    g = edf.groupby("o_orderstatus").ngroup().to_pandas().sort_index()
    w = pdf.groupby("o_orderstatus").ngroup().sort_index()
    assert (g["ngroup"].to_numpy() == w.to_numpy()).all()


def test_groupby_ffill_bfill(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    d2 = edf.assign(gap=lambda d: d["o_totalprice"].where(d["o_totalprice"] > 1e5))
    p2 = pdf.assign(gap=pdf["o_totalprice"].where(pdf["o_totalprice"] > 1e5))
    for mth in ("ffill", "bfill"):
        g = getattr(d2[["o_orderstatus", "gap"]].groupby("o_orderstatus"), mth)()
        w = getattr(p2[["o_orderstatus", "gap"]].groupby("o_orderstatus"), mth)()
        assert np.allclose(
            g.to_pandas().sort_index()["gap"].to_numpy(),
            w.sort_index()["gap"].to_numpy(),
            equal_nan=True,
        )


def test_groupby_ohlc_value_counts(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    g = edf[["o_orderstatus", "o_totalprice"]].groupby("o_orderstatus").ohlc()
    w = pdf.groupby("o_orderstatus")[["o_totalprice"]].ohlc()
    assert np.allclose(g.to_numpy(), w.to_numpy())
    assert list(g.columns) == list(w.columns)
    vc = edf[["o_orderstatus", "o_orderpriority"]].groupby("o_orderstatus").value_counts()
    wv = (
        pdf[["o_orderstatus", "o_orderpriority"]]
        .groupby("o_orderstatus")[["o_orderpriority"]]
        .value_counts()
    )
    assert (vc.to_numpy() == wv.to_numpy()).all()
    assert vc.index.equals(wv.index)


def test_ewm_mean_matches_pandas(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    # grouped, JVM expression path (alpha=0.5 -> kernel 54)
    g = (
        edf[["o_orderstatus", "o_totalprice"]]
        .groupby("o_orderstatus")
        .ewm(alpha=0.5)
        .mean()
        .to_pandas()
        .sort_index()
    )
    w = (
        pdf.groupby("o_orderstatus")["o_totalprice"]
        .ewm(alpha=0.5)
        .mean()
        .reset_index(level=0, drop=True)
        .sort_index()
    )
    assert np.allclose(g["o_totalprice_ewm"].to_numpy(), w.to_numpy())
    # grouped, Arrow fallback path (alpha tiny -> kernel > cap)
    g2 = (
        edf[["o_orderstatus", "o_totalprice"]]
        .groupby("o_orderstatus")
        .ewm(alpha=0.001)
        .mean()
        .to_pandas()
        .sort_index()
    )
    w2 = (
        pdf.groupby("o_orderstatus")["o_totalprice"]
        .ewm(alpha=0.001)
        .mean()
        .reset_index(level=0, drop=True)
        .sort_index()
    )
    assert np.allclose(g2["o_totalprice_ewm"].to_numpy(), w2.to_numpy())
    # global Series ewm via the bucket-overlap plan
    s = edf["o_totalprice"].ewm(span=20).mean().to_pandas().sort_index()
    ps = pdf["o_totalprice"].ewm(span=20).mean().sort_index()
    assert np.allclose(s["ewm"].to_numpy(), ps.to_numpy())
    # global frame ewm: the same kernel and engine choice as the Series
    # (span=20 -> W=369 runs pandas' C kernel per padded bucket)
    f = (
        edf[["o_custkey", "o_totalprice"]].ewm(span=20).mean()
        .to_pandas().sort_index()
    )
    pf = pdf[["o_custkey", "o_totalprice"]].ewm(span=20).mean().sort_index()
    for c in ("o_custkey", "o_totalprice"):
        assert np.allclose(f[c].to_numpy(), pf[c].to_numpy()), c


def test_ewm_param_resolution_and_errors(spark):
    from eland_spark.operators.windowed import resolve_ewm_alpha, ewm_kernel_width

    assert resolve_ewm_alpha(span=19) == pytest.approx(0.1)
    assert resolve_ewm_alpha(com=9) == pytest.approx(0.1)
    assert resolve_ewm_alpha(halflife=1) == pytest.approx(0.5)
    with pytest.raises(ValueError, match="exactly one"):
        resolve_ewm_alpha(alpha=0.5, span=10)
    with pytest.raises(ValueError, match="exactly one"):
        resolve_ewm_alpha()
    # alpha=1 degenerates to identity: kernel width 0
    assert ewm_kernel_width(1.0) == 0


# ------------------------------------------ frame-wide global-order ops


def test_frame_order_ops_match_pandas(spark):
    """Every global-order op runs on the frame AND on each of its
    Series (one kernel per op behind both fronts) against pandas.
    ``zn`` is an integer column holding zeros and nulls: pct_change
    over a zero prior is pandas' ±inf/NaN on both fronts (never an ANSI
    DIVIDE_BY_ZERO), and nulls skip or carry per op like pandas."""
    from operator import methodcaller

    from pyspark.sql import functions as F

    k = F.col("o_orderkey")
    sdf = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(k % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey") % 4)
        .cast("long")
        .alias("zn"),
    )
    edf = es.DataFrame(sdf, index_cols=("o_orderkey",))
    pnum = sdf.toPandas().set_index("o_orderkey").sort_index().astype(float)
    assert (pnum["zn"] == 0).any() and pnum["zn"].isna().any()

    def same(a, b):
        # fronts return the Spark dtype (ints stay ints); pandas here
        # runs on floats — compare values
        return np.allclose(
            a.astype(float).to_numpy(), b.astype(float).to_numpy(),
            equal_nan=True,
        )

    cases = [  # (Series result column, op on a frame/Series, pandas op)
        ("shift", methodcaller("shift"), methodcaller("shift")),
        ("diff", methodcaller("diff"), methodcaller("diff")),
        (
            "pct_change",
            methodcaller("pct_change"),
            methodcaller("pct_change", fill_method=None),
        ),
    ]
    for m in ("cumsum", "cummax", "cummin", "cumprod"):
        cases.append((m, methodcaller(m), methodcaller(m)))
    for a in ("sum", "mean", "std"):
        cases.append((
            f"rolling_{a}",
            lambda d, a=a: getattr(d.rolling(3), a)(),
            lambda p, a=a: getattr(p.rolling(3), a)(),
        ))
        cases.append((
            f"expanding_{a}",
            lambda d, a=a: getattr(d.expanding(), a)(),
            lambda p, a=a: getattr(p.expanding(), a)(),
        ))
    # ewm: alpha=0.995 (W=8) takes the window engine, span=3 (W=54)
    # the Arrow engine
    for kw in ({"alpha": 0.995}, {"span": 3}):
        cases.append((
            "ewm",
            lambda d, kw=kw: d.ewm(**kw).mean(),
            lambda p, kw=kw: p.ewm(**kw).mean(),
        ))
    for name, op, ref in cases:
        want = ref(pnum)
        got = op(edf).to_pandas().sort_index()
        for c in pnum.columns:
            assert same(got[c], want[c]), (name, "frame", c)
            s = op(edf[c]).to_pandas().sort_index()
            assert same(s[name], want[c]), (name, "series", c)


def test_frame_fill_matches_pandas(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    d2 = edf.assign(gap=lambda d: d["o_totalprice"].where(d["o_totalprice"] > 2e5))[
        ["gap", "o_custkey"]
    ]
    p2 = pdf.assign(gap=pdf["o_totalprice"].where(pdf["o_totalprice"] > 2e5))[
        ["gap", "o_custkey"]
    ]
    for m in ("ffill", "bfill"):
        g = getattr(d2, m)().to_pandas().sort_index()
        w = getattr(p2, m)().sort_index()
        assert np.allclose(
            g["gap"].to_numpy(), w["gap"].to_numpy(), equal_nan=True
        ), m


def test_series_uniqueness_monotonic_props(spark, orders_pd):
    from pyspark.sql import functions as F

    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    assert edf["o_custkey"].is_unique == pdf["o_custkey"].is_unique
    assert (
        edf["o_custkey"].is_monotonic_increasing
        == pdf["o_custkey"].is_monotonic_increasing
    )
    mono = es.DataFrame(
        spark.range(10).select(F.col("id").alias("i"), (F.col("id") * 2).alias("v")),
        index_cols=("i",),
    )
    assert mono["v"].is_monotonic_increasing is True
    assert mono["v"].is_monotonic_decreasing is False
    assert mono["v"].is_unique is True


def test_frame_compare_combine_first(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    a = edf[["o_totalprice", "o_orderstatus"]]
    b = edf.assign(
        o_totalprice=lambda d: d["o_totalprice"].where(
            d["o_totalprice"] < 4e5, d["o_totalprice"] * 2
        )
    )[["o_totalprice", "o_orderstatus"]]
    g = a.compare(b).to_pandas().sort_index()
    pa = pdf[["o_totalprice", "o_orderstatus"]]
    pb = pdf.assign(
        o_totalprice=pdf["o_totalprice"].where(
            pdf["o_totalprice"] < 4e5, pdf["o_totalprice"] * 2
        )
    )[["o_totalprice", "o_orderstatus"]]
    w = pa.compare(pb)
    assert len(g) == len(w)
    assert np.allclose(
        g["o_totalprice_self"].to_numpy(),
        w[("o_totalprice", "self")].to_numpy(),
        equal_nan=True,
    )
    # equal columns are all-null in the diff rows (pandas masking)
    assert g["o_orderstatus_self"].isna().all()

    holes = edf.assign(gap=lambda d: d["o_totalprice"].where(d["o_totalprice"] > 2e5))[
        ["gap"]
    ]
    fallback = edf.assign(gap=lambda d: d["o_totalprice"] * 0)[["gap"]]
    g2 = holes.combine_first(fallback).to_pandas().sort_index()
    pholes = pdf.assign(gap=pdf["o_totalprice"].where(pdf["o_totalprice"] > 2e5))[
        ["gap"]
    ]
    pfb = pdf.assign(gap=pdf["o_totalprice"] * 0)[["gap"]]
    w2 = pholes.combine_first(pfb).sort_index()
    assert np.allclose(g2["gap"].to_numpy(), w2["gap"].to_numpy(), equal_nan=True)


def test_groupby_describe_matches_pandas(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    g = edf[["o_orderstatus", "o_totalprice"]].groupby("o_orderstatus").describe()
    w = pdf[["o_orderstatus", "o_totalprice"]].groupby("o_orderstatus").describe()
    assert list(g.columns) == list(w.columns)
    assert np.allclose(g.to_numpy(), w.to_numpy())


def test_temperature_sampling_semantics(spark):
    from eland_spark.operators.sampling import (
        sample_by_temperature, temperature_weights,
    )

    # alpha=1 reproduces natural proportions; alpha=0 is uniform
    w1 = temperature_weights({"a": 100, "b": 900}, alpha=1.0)
    assert w1["b"] == pytest.approx(0.9)
    w0 = temperature_weights({"a": 100, "b": 900}, alpha=0.0)
    assert w0["a"] == pytest.approx(0.5)
    # deterministic filter; capped rates never oversample a source
    sdf = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "doc_id long, source string",
    )
    out1 = sample_by_temperature(sdf, "source", "doc_id", 200, alpha=0.5)
    out2 = sample_by_temperature(sdf, "source", "doc_id", 200, alpha=0.5)
    assert out1.count() == out2.count()
    small_kept = out1.filter("source = 'small'").count()
    assert small_kept <= 100


def test_rowwise_axis1_and_scalar_arith(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    num = edf[["o_custkey", "o_totalprice"]]
    pnum = pdf[["o_custkey", "o_totalprice"]]
    for m in ("sum", "min", "max", "mean"):
        g = (
            num.assign(x=getattr(num, m)(axis=1))[["x"]]
            .to_pandas()
            .sort_index()["x"]
        )
        w = getattr(pnum, m)(axis=1)
        assert np.allclose(g.to_numpy(), w.to_numpy()), m
    g = (num + 10).to_pandas().sort_index()
    assert np.allclose(
        g[["o_custkey", "o_totalprice"]].to_numpy(), (pnum + 10).to_numpy()
    )
    g2 = (num / 3).to_pandas().sort_index()
    assert np.allclose(
        g2[["o_custkey", "o_totalprice"]].to_numpy(), (pnum / 3).to_numpy()
    )


def test_pipe_insert_pop(spark):
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    r = edf.pipe(lambda d, k: d[[k]], "o_totalprice")
    assert list(r.columns) == ["o_totalprice"]
    m = edf[["o_custkey", "o_totalprice"]]
    m.insert(1, "half", m["o_totalprice"] / 2)
    assert list(m.columns) == ["o_custkey", "half", "o_totalprice"]
    with pytest.raises(ValueError, match="already exists"):
        m.insert(0, "half", 1)
    popped = m.pop("half")
    assert list(m.columns) == ["o_custkey", "o_totalprice"]
    assert popped.name == "half"


def test_groupby_sample_and_str_cat(spark, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    # frac: deterministic, roughly proportional
    a = edf.groupby("o_orderstatus").sample(frac=0.3).to_spark().count()
    b = edf.groupby("o_orderstatus").sample(frac=0.3).to_spark().count()
    assert a == b and abs(a / len(pdf) - 0.3) < 0.05
    # n: exactly n per (big-enough) group
    cnts = (
        edf.groupby("o_orderstatus").sample(n=7)
        .to_spark().groupBy("o_orderstatus").count().toPandas()
    )
    assert sorted(cnts["count"]) == [7, 7, 7]
    with pytest.raises(ValueError, match="exactly one"):
        edf.groupby("o_orderstatus").sample()
    # str.cat elementwise, null propagation + na_rep
    s = edf["o_orderstatus"].str.cat([edf["o_orderpriority"]], sep="-")
    got = edf.assign(x=s)[["x"]].to_pandas().sort_index()["x"]
    want = pdf["o_orderstatus"].str.cat(pdf["o_orderpriority"], sep="-").sort_index()
    assert (got.to_numpy() == want.to_numpy()).all()


def test_groupby_corr_cov_match_pandas(spark):
    pdf = pd.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/lineitem.parquet",
        index_col=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    )
    cols = ["l_returnflag", "l_quantity", "l_discount", "l_tax"]
    g = edf[cols].groupby("l_returnflag").corr()
    w = pdf[cols].groupby("l_returnflag").corr()
    assert g.index.equals(w.index) and list(g.columns) == list(w.columns)
    assert np.allclose(g.to_numpy(), w.to_numpy())
    g2 = edf[cols].groupby("l_returnflag").cov()
    w2 = pdf[cols].groupby("l_returnflag").cov()
    assert np.allclose(g2.to_numpy(), w2.to_numpy())


def test_interpolate_matches_pandas(spark, orders_pd):
    """Series/DataFrame.interpolate(linear): interior gaps on row
    position, trailing ffill, leading nulls kept, ``limit`` caps runs —
    all vs pandas on a real column with deterministic holes."""
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    gap_e = edf["o_totalprice"].where(edf["o_orderkey"] % 7 > 1)
    gap_p = pdf["o_totalprice"].where(pdf.index.to_series() % 7 > 1)
    for lim in (None, 1, 3):
        got = gap_e.interpolate(limit=lim).to_pandas().sort_index()["interpolate"]
        exp = gap_p.interpolate(limit=lim)
        assert np.allclose(
            got.to_numpy(float), exp.to_numpy(float), equal_nan=True
        ), lim
    # frame-level: every numeric column in one pass (incl. an all-null
    # and an untouched column)
    d2 = edf.assign(gap=lambda d: d["o_totalprice"].where(d["o_orderkey"] % 5 > 0))[
        ["gap", "o_custkey"]
    ]
    p2 = pdf.assign(gap=pdf["o_totalprice"].where(pdf.index.to_series() % 5 > 0))[
        ["gap", "o_custkey"]
    ].astype({"gap": "float64", "o_custkey": "float64"})
    got = d2.interpolate().to_pandas().sort_index()
    exp = p2.interpolate()
    for c in ("gap", "o_custkey"):
        assert np.allclose(
            got[c].to_numpy(float), exp[c].to_numpy(float), equal_nan=True
        ), c
    with pytest.raises(NotImplementedError):
        edf["o_totalprice"].interpolate(method="spline")
    with pytest.raises(ValueError):
        edf["o_totalprice"].interpolate(limit=0)


def test_stack_unstack_match_pandas(spark, orders_pd, lineitem_pd):
    """stack = lazy zero-shuffle melt keyed by (index, level_1);
    unstack = inverse pivot of the last index level (wide pandas
    result), both vs pandas."""
    from pyspark.sql import functions as F

    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edf = es.read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", index_col="o_orderkey"
    )
    got = edf[["o_totalprice", "o_custkey"]].stack().to_pandas().sort_index()
    exp = (
        pdf[["o_totalprice", "o_custkey"]]
        .astype("float64")
        .stack()
        .rename("value")
        .reset_index()
        .set_index(["o_orderkey", "level_1"])
        .sort_index()
    )
    assert len(got) == len(exp)
    assert np.allclose(got["value"].to_numpy(float), exp["value"].to_numpy(float))

    sdf = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sq"))
    )
    e2 = es.DataFrame(sdf, index_cols=("l_returnflag", "l_linestatus"))
    got2 = e2.unstack().sort_index()
    exp2 = (
        lineitem_pd.groupby(["l_returnflag", "l_linestatus"])["l_quantity"]
        .sum()
        .round(2)
        .unstack()
        .sort_index()
    )
    got2, exp2 = got2[sorted(got2.columns)], exp2[sorted(exp2.columns)]
    assert got2.shape == exp2.shape
    assert np.allclose(got2.to_numpy(float), exp2.to_numpy(float), equal_nan=True)
    with pytest.raises(ValueError):
        edf.unstack()  # single-level index
