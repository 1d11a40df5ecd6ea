"""Differential tests vs pandas on the same parquet — the reference's
test methodology (assert_frame_equal(ed.to_pandas(), pd), SURVEY §5)."""

import numpy as np
import pandas as pd
import pandas.testing as pdt
import pytest


def test_columns_dtypes_shape(lineitem, lineitem_pd):
    assert list(lineitem.columns) == list(lineitem_pd.columns)
    assert lineitem.shape == lineitem_pd.shape
    assert lineitem.ndim == 2
    assert not lineitem.empty
    dt = lineitem.dtypes
    assert str(dt["l_quantity"]) == "float64"
    assert str(dt["l_orderkey"]) == "int64"
    assert str(dt["l_returnflag"]) == "object"


def test_getitem_select(lineitem):
    sub = lineitem[["l_orderkey", "l_quantity"]]
    assert list(sub.columns) == ["l_orderkey", "l_quantity"]
    s = lineitem["l_quantity"]
    assert s.name == "l_quantity"


def test_head_tail_deterministic(lineitem, lineitem_pd):
    key = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    expected = lineitem_pd.sort_values(key).head(7).reset_index(drop=True)
    got = lineitem.head(7).to_pandas()
    pdt.assert_frame_equal(
        got[expected.columns.tolist()], expected, check_dtype=False
    )
    expected_t = lineitem_pd.sort_values(key).tail(7).reset_index(drop=True)
    got_t = lineitem.tail(7).to_pandas()
    pdt.assert_frame_equal(
        got_t[expected_t.columns.tolist()], expected_t, check_dtype=False
    )


def test_filter_chain(lineitem, lineitem_pd):
    mask_pd = (lineitem_pd.l_quantity > 30) & (lineitem_pd.l_discount <= 0.05)
    expected = int(mask_pd.sum())
    got = lineitem[(lineitem.l_quantity > 30) & (lineitem.l_discount <= 0.05)]
    assert got.shape[0] == expected


def test_filter_isin_isna_like(orders, orders_pd):
    assert (
        orders[orders.o_orderstatus.isin(["F", "O"])].shape[0]
        == int(orders_pd.o_orderstatus.isin(["F", "O"]).sum())
    )
    assert orders[orders.o_orderpriority.notna()].shape[0] == int(
        orders_pd.o_orderpriority.notna().sum()
    )
    got = orders[orders.o_orderpriority.startswith("1")].shape[0]
    assert got == int(orders_pd.o_orderpriority.str.startswith("1").sum())


def test_query_expr(lineitem, lineitem_pd):
    got = lineitem.query("l_quantity > 45 and l_returnflag = 'R'").shape[0]
    expected = int(
        ((lineitem_pd.l_quantity > 45) & (lineitem_pd.l_returnflag == "R")).sum()
    )
    assert got == expected


def test_arithmetic(lineitem, lineitem_pd):
    rev = lineitem.l_extendedprice * (1 - lineitem.l_discount)
    # build through __setitem__
    li = lineitem[["l_extendedprice", "l_discount"]]
    li["revenue"] = lineitem.l_extendedprice * (1 - lineitem.l_discount)
    got = li["revenue"].sum()
    expected = (lineitem_pd.l_extendedprice * (1 - lineitem_pd.l_discount)).sum()
    assert abs(got - expected) / abs(expected) < 1e-9
    assert abs(rev.sum() - expected) / abs(expected) < 1e-9


def test_string_arithmetic(orders):
    s = orders.o_orderstatus + "_" + orders.o_orderpriority
    pdf = s.head(3)
    assert all("_" in v for v in pdf.tolist())
    with pytest.raises(TypeError):
        orders.o_orderstatus - 1
    with pytest.raises(TypeError):
        orders.o_orderstatus + 5
    r = orders.o_orderstatus * 3
    assert all(len(v) == 3 for v in r.head(3).tolist())


def test_metric_aggs(lineitem, lineitem_pd):
    num = lineitem_pd.select_dtypes("number")
    got = lineitem.mean(numeric_only=True)
    for c in got.index:
        if c in num:
            assert got[c] == pytest.approx(num[c].mean(), rel=1e-9)
    got_std = lineitem.std(numeric_only=True)
    for c in got_std.index:
        if c in num:
            assert got_std[c] == pytest.approx(num[c].std(), rel=1e-6)


def test_count_nunique(orders, orders_pd):
    got = orders.count()
    for c in got.index:
        assert got[c] == orders_pd[c].count()
    nn = orders.nunique()
    assert nn["o_orderstatus"] == orders_pd.o_orderstatus.nunique()


def test_quantile_median(lineitem, lineitem_pd):
    q = lineitem.quantile(0.5)
    assert q["l_quantity"] == pytest.approx(
        lineitem_pd.l_quantity.quantile(0.5), rel=1e-9
    )
    qq = lineitem.quantile([0.25, 0.75])
    assert qq.loc[0.25, "l_extendedprice"] == pytest.approx(
        lineitem_pd.l_extendedprice.quantile(0.25), rel=1e-9
    )


def test_idxmax_idxmin(orders, orders_pd):
    got = orders.idxmax()
    assert got["o_totalprice"] == orders_pd.set_index("o_orderkey").o_totalprice.idxmax()
    got_min = orders.idxmin()
    assert (
        got_min["o_totalprice"]
        == orders_pd.set_index("o_orderkey").o_totalprice.idxmin()
    )


def test_value_counts_mode(orders, orders_pd):
    vc = orders["o_orderstatus"].value_counts(10)
    exp = orders_pd.o_orderstatus.value_counts()
    for k in vc.index:
        assert vc[k] == exp[k]
    m = orders["o_orderstatus"].mode()
    assert m.iloc[0] == orders_pd.o_orderstatus.mode().iloc[0]


def test_describe(lineitem, lineitem_pd):
    d = lineitem.describe()
    exp = lineitem_pd.describe()
    assert d.loc["count", "l_quantity"] == exp.loc["count", "l_quantity"]
    assert d.loc["50%", "l_quantity"] == pytest.approx(
        exp.loc["50%", "l_quantity"], rel=1e-9
    )


def test_hist(lineitem, lineitem_pd):
    edges, counts = lineitem.hist("l_quantity", bins=10)
    exp_counts, exp_edges = np.histogram(lineitem_pd.l_quantity, bins=10)
    np.testing.assert_allclose(edges, exp_edges, rtol=1e-9)
    np.testing.assert_array_equal(counts, exp_counts)


def test_drop_rename_select_dtypes(lineitem, orders):
    d = lineitem.drop(columns=["l_comment"], errors="ignore")
    assert "l_comment" not in d.columns
    r = orders.rename(columns={"o_totalprice": "total"})
    assert "total" in r.columns and "o_totalprice" not in r.columns
    assert r["total"].sum() > 0
    nums = lineitem.select_dtypes(include="number")
    assert "l_returnflag" not in nums.columns
    assert "l_quantity" in nums.columns


def test_filter_items_axis0(orders, orders_pd):
    keys = orders_pd.o_orderkey.iloc[:3].tolist()
    got = orders.filter(items=keys, axis=0)
    assert got.shape[0] == 3


def test_drop_index(orders, orders_pd):
    keys = orders_pd.o_orderkey.iloc[:5].tolist()
    got = orders.drop(index=keys)
    assert got.shape[0] == orders_pd.shape[0] - 5


def test_sample(lineitem):
    s = lineitem.sample(n=25, random_state=7)
    assert s.shape[0] == 25
    f = lineitem.sample(frac=0.1, random_state=7)
    n = f.shape[0]
    total = lineitem.shape[0]
    assert 0.05 * total < n < 0.15 * total


def test_mad(lineitem, lineitem_pd):
    got = lineitem.mad()
    x = lineitem_pd.l_quantity
    exp = (x - x.median()).abs().median()
    assert got["l_quantity"] == pytest.approx(exp, rel=1e-9)


def test_es_match(documents):
    m = documents[documents.es_match("the", columns=["text"])]
    assert m.shape[0] > 0


def test_es_match_must_not_partitions_frame(documents):
    n = documents.shape[0]
    hit = documents[documents.es_match("the", columns=["text"])].shape[0]
    miss = documents[
        documents.es_match("the", columns=["text"], must_not_match=True)
    ].shape[0]
    assert hit + miss == n


def test_es_match_fuzziness(documents):
    # "spak" appears nowhere, but is edit-distance 1 from "spark"
    exact = documents[documents.es_match("spak", columns=["text"])].shape[0]
    fuzzy = documents[
        documents.es_match("spak", columns=["text"], fuzziness=1)
    ].shape[0]
    with_spark = documents[documents.es_match("spark", columns=["text"])].shape[0]
    assert exact == 0
    assert fuzzy >= with_spark > 0
    # AUTO ladder: 4-char token gets distance 1 (same result)
    auto = documents[
        documents.es_match("spak", columns=["text"], fuzziness="AUTO")
    ].shape[0]
    assert auto == fuzzy
    # short token (<3 chars) degrades to exact under AUTO
    auto_short = documents[
        documents.es_match("th", columns=["text"], fuzziness="AUTO")
    ].shape[0]
    pdf = documents.to_pandas()
    exp = int(pdf["text"].str.contains(r"\bth\b", regex=True).sum())
    assert auto_short == exp


def test_es_match_multi_match_type_validation(documents):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="more than one column"):
        documents.es_match("x", columns=["text"], multi_match_type="phrase")
    with _pytest.raises(ValueError, match="unsupported multi_match_type"):
        documents.es_match(
            "x", columns=["text", "lang"], multi_match_type="cross_fields"
        )


def test_es_match_non_text_rejection(documents):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-text fields"):
        documents.es_match("5", columns=["doc_id"])
    # lenient mode drops the non-text column instead
    m = documents[
        documents.es_match(
            "the", columns=["doc_id", "text"], match_only_text_fields=False
        )
    ]
    assert m.shape[0] > 0


def test_plotting_hist_data_and_gated_render(lineitem):
    import numpy as np
    import pytest as _pytest

    from eland_spark.plotting import hist_data, hist_plot

    hd = hist_data(lineitem[["l_quantity", "l_extendedprice"]], bins=8)
    assert "l_quantity__edges" in hd and "l_quantity__weights" in hd
    assert hd["l_quantity__weights"].sum() == lineitem.shape[0]
    with _pytest.raises(ImportError, match="matplotlib"):
        hist_plot(lineitem, "l_quantity")


def test_stacked_head_tail_semantics(orders, orders_pd):
    """Reference stacked-limit semantics (eland/tasks.py:78-185):
    head-of-head takes min, tail-of-tail collapses, tail-after-head is
    the tail of the head window."""
    pd_sorted = orders_pd.sort_values("o_orderkey").reset_index(drop=True)

    hh = orders.head(10).head(3).to_pandas()
    assert list(hh["o_orderkey"]) == list(pd_sorted.head(10).head(3)["o_orderkey"])

    tt = orders.tail(5).tail(2).to_pandas()
    assert list(tt["o_orderkey"]) == list(pd_sorted.tail(5).tail(2)["o_orderkey"])

    ht = orders.head(10).tail(3).to_pandas()
    assert list(ht["o_orderkey"]) == list(pd_sorted.head(10).tail(3)["o_orderkey"])

    th = orders.tail(10).head(3).to_pandas()
    assert list(th["o_orderkey"]) == list(pd_sorted.tail(10).head(3)["o_orderkey"])


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from pyspark.sql import functions as F

    from eland_spark.operators.text import tfidf_top_terms

    sdf = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry date")],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(sdf, F.col("text"), F.col("doc_id"), k=2)
    rows = {(r["doc_id"], r["rnk"]): (r["term"], r["tf"], r["score"]) for r in out.collect()}

    def idf(df):  # smoothed, N=3
        return math.log((3 + 1) / (df + 1)) + 1

    # doc 1: apple tf=2 df=1 -> top; banana tf=1 df=2
    term, tf, score = rows[(1, 1)]
    assert term == "apple" and tf == 2
    assert score == pytest.approx(round(2 * idf(1), 6), abs=1e-6)
    assert rows[(1, 2)][0] == "banana"
    # doc 3: cherry tf=2 df=2 beats date tf=1 df=1
    assert rows[(3, 1)][0] == "cherry"
    assert rows[(3, 2)][0] == "date"
    # every doc got at most k=2 rows
    assert len(rows) == 6


def test_explode_matches_pandas(spark, sf_dir):
    import eland_spark as es

    emb = es.read_parquet(spark, f"{sf_dir}/embeddings.parquet", index_col="vec_id")
    # synthetic small frame with empty + null arrays for the edge cases
    sdf = spark.createDataFrame(
        [(1, [10, 20]), (2, []), (3, None), (4, [30])],
        "id bigint, xs array<bigint>",
    )
    df = es.DataFrame(sdf, index_cols=("id",))
    got = df.explode("xs").to_pandas().sort_values("id").reset_index(drop=True)
    pdf = sdf.toPandas().explode("xs").reset_index(drop=True)
    assert list(got["id"]) == list(pdf["id"])
    assert [None if pd.isna(v) else int(v) for v in got["xs"]] == [
        None if pd.isna(v) else int(v) for v in pdf["xs"]
    ]
    # keep_empty=False drops null/empty rows
    inner = df.explode("xs", keep_empty=False)
    assert sorted(r["id"] for r in inner.to_spark().collect()) == [1, 1, 4]
    # dtype updated from array to element type
    assert str(inner.dtypes["xs"]) == "int64"
    # real table: exploding the embedding column multiplies rows by dim
    n, dim = emb.shape[0], len(emb.head(1).to_pandas()["embedding"][0])
    assert emb.explode("embedding").shape[0] == n * dim


def test_groupby_mode_matches_pandas(orders, orders_pd):
    got = orders.groupby("o_orderstatus").mode()
    for col in ("o_totalprice", "o_custkey"):
        for status, grp in orders_pd.groupby("o_orderstatus"):
            counts = grp[col].value_counts()
            top = counts[counts == counts.max()]
            expected = min(top.index)  # lowest value among frequency ties
            assert got.loc[status, col] == expected, (col, status)


def test_groupby_idxmax_idxmin_match_pandas(orders, orders_pd):
    pdf = orders_pd.set_index("o_orderkey")
    for ours, theirs in (("idxmax", "idxmax"), ("idxmin", "idxmin")):
        got = getattr(orders.groupby("o_orderstatus"), ours)()
        exp = getattr(pdf.groupby("o_orderstatus")[["o_custkey", "o_totalprice"]], theirs)()
        for col in ("o_custkey", "o_totalprice"):
            assert dict(got[col]) == dict(exp[col]), (ours, col)


def test_groupby_idxmax_requires_index(spark, sf_dir):
    import eland_spark as es
    import pytest

    df = es.read_parquet(spark, f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="index"):
        df.groupby("o_orderstatus").idxmax()


def test_repetition_stats_edges(spark):
    from pyspark.sql import functions as F

    from eland_spark.operators.text import repetition_stats

    sdf = spark.createDataFrame(
        [
            (1, ""),                      # empty
            (2, "word"),                  # single word, no bigrams
            (3, "spam spam spam spam"),   # fully repeated
            (4, "a b c d"),               # all distinct
        ],
        "id int, text string",
    )
    from eland_spark.operators.dedup import normalized_tokens

    toks = sdf.select("id", normalized_tokens(F.col("text")).alias("l"))
    s = repetition_stats(F.col("l"))
    rows = {
        r["id"]: r
        for r in toks.select(
            "id",
            s["n_words"].alias("n"),
            s["word_rep_frac"].alias("w"),
            s["bigram_rep_frac"].alias("b"),
            s["top_word_frac"].alias("t"),
        ).collect()
    }
    assert rows[1]["n"] == 0 and rows[1]["w"] == 0.0 and rows[1]["t"] == 0.0
    assert rows[2]["n"] == 1 and rows[2]["b"] == 0.0 and rows[2]["t"] == 1.0
    import pytest as _pytest

    assert rows[3]["w"] == 0.75 and rows[3]["t"] == 1.0
    assert rows[3]["b"] == _pytest.approx(2.0 / 3.0)
    assert rows[4]["w"] == 0.0 and rows[4]["b"] == 0.0 and rows[4]["t"] == 0.25


def test_corr_matches_pandas(orders, orders_pd):
    import pytest

    got = orders.corr()
    exp = orders_pd[["o_orderkey", "o_custkey", "o_totalprice"]].corr()
    for a in exp.columns:
        for b in exp.columns:
            assert got.loc[a, b] == pytest.approx(exp.loc[a, b], rel=1e-9), (a, b)


def test_pivot_table_matches_pandas(orders, orders_pd):
    import pytest

    got = orders.pivot_table("o_orderpriority", "o_orderstatus", "o_totalprice", "sum")
    exp = orders_pd.pivot_table(
        index="o_orderpriority", columns="o_orderstatus", values="o_totalprice",
        aggfunc="sum",
    )
    assert list(got.index) == list(exp.index)
    for c in exp.columns:
        for i in exp.index:
            assert got.loc[i, c] == pytest.approx(exp.loc[i, c], rel=1e-9)
    # mean default aggfunc too
    got_m = orders.pivot_table("o_orderpriority", "o_orderstatus", "o_totalprice")
    exp_m = orders_pd.pivot_table(
        index="o_orderpriority", columns="o_orderstatus", values="o_totalprice",
        aggfunc="mean",
    )
    assert got_m.loc["5-LOW", "O"] == pytest.approx(exp_m.loc["5-LOW", "O"], rel=1e-9)


def test_sem_cov_match_pandas(lineitem, lineitem_pd):
    import pytest

    got = lineitem.sem(numeric_only=True)
    num = lineitem_pd.select_dtypes("number")
    for c in got.index:
        if c in num:
            assert got[c] == pytest.approx(num[c].sem(), rel=1e-9), c
    gb = lineitem.groupby("l_returnflag").sem()
    exp = lineitem_pd.groupby("l_returnflag")[["l_quantity", "l_discount"]].sem()
    for c in ("l_quantity", "l_discount"):
        for k in exp.index:
            assert gb.loc[k, c] == pytest.approx(exp.loc[k, c], rel=1e-9), (c, k)
    cov = lineitem[["l_quantity", "l_extendedprice", "l_discount"]].cov()
    exp_cov = num[["l_quantity", "l_extendedprice", "l_discount"]].cov()
    for a in exp_cov.columns:
        for b in exp_cov.columns:
            assert cov.loc[a, b] == pytest.approx(exp_cov.loc[a, b], rel=1e-9)


def test_nlargest_nsmallest_match_pandas(orders, orders_pd):
    got = orders.nlargest(5, "o_totalprice").to_pandas()
    exp = orders_pd.nlargest(5, "o_totalprice")
    # frame materialization re-sorts by index (engine determinism
    # contract) — compare membership, not order
    assert sorted(got["o_orderkey"]) == sorted(exp["o_orderkey"])
    got_s = orders["o_totalprice"].nlargest(5)
    exp_s = orders_pd.set_index("o_orderkey").o_totalprice.nlargest(5)
    assert list(got_s.index) == list(exp_s.index)
    assert list(got_s.values) == list(exp_s.values)
    got_sm = orders["o_totalprice"].nsmallest(3)
    exp_sm = orders_pd.set_index("o_orderkey").o_totalprice.nsmallest(3)
    assert list(got_sm.index) == list(exp_sm.index)


def test_value_counts_normalize_dropna(orders, orders_pd, spark):
    vc = orders["o_orderstatus"].value_counts(10, normalize=True)
    exp = orders_pd.o_orderstatus.value_counts(normalize=True)
    import pytest

    for k in vc.index:
        assert vc[k] == pytest.approx(exp[k], rel=1e-12)
    # null handling: dropna default excludes the null bucket
    import eland_spark as es

    sdf = spark.createDataFrame([(1, "a"), (2, "a"), (3, None)], "id int, s string")
    df = es.DataFrame(sdf, index_cols=("id",))
    v = df["s"].value_counts()
    assert list(v.index) == ["a"] and v["a"] == 2
    v_all = df["s"].value_counts(dropna=False)
    assert len(v_all) == 2


def test_dropna_fillna_astype_melt(spark, orders, orders_pd):
    import eland_spark as es

    sdf = spark.createDataFrame(
        [(1, None, 2.0), (2, "x", None), (3, "y", 3.5)],
        "id int, s string, v double",
    )
    df = es.DataFrame(sdf, index_cols=("id",))
    assert df.dropna().shape[0] == 1
    assert df.dropna(how="all").shape[0] == 3
    assert df.dropna(subset=["v"]).shape[0] == 2
    filled = df.fillna({"s": "?", "v": 0.0}).to_pandas()
    assert filled["s"].tolist() == ["?", "x", "y"]
    assert filled["v"].tolist() == [2.0, 0.0, 3.5]
    # astype updates both data and schema wrapper
    cast = orders.astype({"o_totalprice": "int64"})
    assert str(cast.dtypes["o_totalprice"]) == "int64"
    assert cast["o_totalprice"].sum() == int(
        orders_pd.o_totalprice.astype("int64").sum()
    )
    # melt matches pandas long shape
    m = orders.melt(id_vars="o_orderkey", value_vars=["o_totalprice", "o_custkey"])
    exp = orders_pd.melt(
        id_vars="o_orderkey", value_vars=["o_totalprice", "o_custkey"]
    )
    assert m.shape[0] == len(exp)
    got_sum = m.to_spark().groupBy("variable").sum("value").collect()
    exp_sum = exp.groupby("variable")["value"].sum()
    import pytest

    for r in got_sum:
        assert r["sum(value)"] == pytest.approx(exp_sum[r["variable"]], rel=1e-9)


def test_series_fillna_dropna(spark):
    import eland_spark as es

    sdf = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 5.0)], "id int, v double"
    )
    df = es.DataFrame(sdf, index_cols=("id",))
    assert df["v"].fillna(0.0).sum() == 7.0
    assert df["v"].dropna().count() == 2
    assert df["v"].count() == 2  # count already skips nulls
    assert df["v"].fillna(0.0).count() == 3


def test_groupby_agg_dict_matches_pandas(orders, orders_pd):
    got = orders.groupby("o_orderstatus").agg(
        {"o_totalprice": ["sum", "mean"], "o_custkey": "nunique"}
    )
    exp = orders_pd.groupby("o_orderstatus").agg(
        {"o_totalprice": ["sum", "mean"], "o_custkey": "nunique"}
    )
    for k in exp.index:
        assert got.loc[k, ("o_totalprice", "sum")] == pytest.approx(
            exp.loc[k, ("o_totalprice", "sum")], rel=1e-9
        )
        assert got.loc[k, ("o_custkey", "nunique")] == exp.loc[k, ("o_custkey", "nunique")]
    # scalar-only dict -> flat columns, pandas shape
    flat = orders.groupby("o_orderstatus").agg({"o_totalprice": "sum"})
    exp_flat = orders_pd.groupby("o_orderstatus").agg({"o_totalprice": "sum"})
    for k in exp_flat.index:
        assert flat.loc[k, "o_totalprice"] == pytest.approx(
            exp_flat.loc[k, "o_totalprice"], rel=1e-9
        )


def test_str_accessor_matches_pandas(orders, orders_pd):
    s = orders["o_orderpriority"]
    p = orders_pd.o_orderpriority
    assert s.str.lower().head(3).tolist() == p.str.lower().head(3).tolist()
    assert s.str.len().sum() == int(p.str.len().sum())
    got = orders[s.str.contains("URGENT")].shape[0]
    assert got == int(p.str.contains("URGENT").sum())
    assert orders[s.str.endswith("LOW")].shape[0] == int(p.str.endswith("LOW").sum())
    r = s.str.replace("-", "_", regex=False).head(2).tolist()
    assert r == p.str.replace("-", "_", regex=False).head(2).tolist()
    assert s.str.slice(0, 1).head(3).tolist() == p.str.slice(0, 1).head(3).tolist()


def test_dt_accessor_matches_pandas(orders, orders_pd):
    s = orders["o_orderdate"]
    p = orders_pd.o_orderdate
    assert s.dt.year.min() == int(p.dt.year.min())
    assert s.dt.month.max() == int(p.dt.month.max())
    assert int(s.dt.dayofweek.head(5).iloc[0]) == int(p.dt.dayofweek.iloc[0])
    # component filter pushes work into the scan
    got = orders[s.dt.year == 1995].shape[0]
    assert got == int((p.dt.year == 1995).sum())


def test_frame_agg_dict_matches_pandas(orders, orders_pd):
    got = orders.agg({"o_totalprice": ["sum", "mean"], "o_custkey": "max"})
    exp = orders_pd.agg({"o_totalprice": ["sum", "mean"], "o_custkey": "max"})
    assert got.loc["sum", "o_totalprice"] == pytest.approx(
        exp.loc["sum", "o_totalprice"], rel=1e-9
    )
    assert got.loc["max", "o_custkey"] == exp.loc["max", "o_custkey"]
    assert pd.isna(got.loc["sum", "o_custkey"]) and pd.isna(exp.loc["sum", "o_custkey"])


def test_groupby_transform_matches_pandas(orders, orders_pd):
    t = (
        orders[["o_orderkey", "o_orderstatus", "o_totalprice", "o_custkey"]]
        .groupby("o_orderstatus")
        .transform("mean")
    )
    got = (
        t.to_spark().toPandas().set_index("o_orderkey").sort_index()["o_totalprice"]
    )
    exp = (
        orders_pd.set_index("o_orderkey")
        .sort_index()
        .groupby("o_orderstatus")["o_totalprice"]
        .transform("mean")
        .sort_index()
    )
    assert (abs(got - exp) < 1e-9).all()
    with pytest.raises(ValueError, match="not supported"):
        orders.groupby("o_orderstatus").transform("cumsum")


def test_groupby_transform_null_keys_dropna(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "a", None, "b"], "v": [1.0, 3.0, 10.0, 5.0], "i": [1, 2, 3, 4]}
    )
    import eland_spark as es

    import tempfile

    df = es.pandas_to_spark(
        pdf.set_index("i"), spark, tempfile.mkdtemp() + "/t.parquet"
    )
    got = (
        df.groupby("k")
        .transform("sum")
        .to_spark()
        .toPandas()
        .set_index("i")
        .sort_index()
    )
    exp = pdf.set_index("i").groupby("k")["v"].transform("sum")
    assert got.loc[1, "v"] == 4.0 and got.loc[4, "v"] == 5.0
    assert pd.isna(got.loc[3, "v"]) and pd.isna(exp.loc[3])
    # dropna=False: null keys form their own group (pandas parity)
    got2 = (
        df.groupby("k", dropna=False)
        .transform("sum")
        .to_spark()
        .toPandas()
        .set_index("i")
        .sort_index()
    )
    assert got2.loc[3, "v"] == 10.0


def test_cut_qcut_match_pandas(orders, orders_pd):
    s = orders["o_totalprice"]
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    edges = [0, 50000, 100000, 200000, 400000]
    for kwargs, exp in [
        (dict(bins=edges), pd.cut(pdf.o_totalprice, bins=edges, labels=False)),
        (dict(bins=7), pd.cut(pdf.o_totalprice, bins=7, labels=False)),
        (
            dict(bins=edges, right=False),
            pd.cut(pdf.o_totalprice, bins=edges, labels=False, right=False),
        ),
    ]:
        got = (
            orders.assign(b=s.cut(**kwargs))[["o_orderkey", "b"]]
            .to_spark()
            .toPandas()
            .set_index("o_orderkey")
            .sort_index()["b"]
        )
        m = ~exp.isna()
        assert (got.isna() == exp.isna()).all()
        assert (got[m].astype(int) == exp[m].astype(int)).all()
    got = (
        orders.assign(b=s.qcut(4))[["o_orderkey", "b"]]
        .to_spark()
        .toPandas()
        .set_index("o_orderkey")
        .sort_index()["b"]
    )
    exp = pd.qcut(pdf.o_totalprice, 4, labels=False)
    assert (got.astype(int) == exp.astype(int)).all()
    with pytest.raises(ValueError, match="strictly increasing"):
        s.cut([1, 1, 2])


def test_duplicated_matches_pandas(orders, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    for keep in ["first", "last", False]:
        got = (
            orders.duplicated(subset=["o_custkey"], keep=keep)
            .to_spark()
            .toPandas()
            .set_index("o_orderkey")
            .sort_index()["duplicated"]
        )
        exp = pdf.duplicated(subset=["o_custkey"], keep=keep)
        assert (got.values == exp.values).all()
    with pytest.raises(ValueError, match="keep must be"):
        orders.duplicated(subset=["o_custkey"], keep="bogus")


def test_resample_matches_pandas(spark, sf_dir):
    import numpy as np
    import eland_spark as es

    ev = es.read_parquet(spark, f"{sf_dir}/events.parquet", index_col="event_id")
    pdf = ev.to_pandas()
    got = ev.resample("6h", on="ts").agg(["sum", "count"])
    exp = pdf.set_index("ts").resample("6h").agg({"value": ["sum", "count"]})
    exp = exp[exp[("value", "count")] > 0]  # engine emits non-empty buckets only
    assert len(got) == len(exp)
    assert np.allclose(
        sorted(got[("value", "sum")].values), sorted(exp[("value", "sum")].values)
    )
    with pytest.raises(ValueError, match="unsupported resample rule"):
        ev.resample("bogus", on="ts")


def test_groupby_apply_pandas_matches_pandas(orders, orders_pd):
    def top2(g):
        return g.nlargest(2, "o_totalprice")[
            ["o_orderkey", "o_orderstatus", "o_totalprice"]
        ]

    r = orders.groupby("o_orderstatus").apply_pandas(
        top2, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    got = r.to_spark().toPandas().sort_values("o_orderkey").reset_index(drop=True)
    exp = (
        orders_pd.groupby("o_orderstatus", group_keys=False)
        .apply(lambda g: g.nlargest(2, "o_totalprice"))[
            ["o_orderkey", "o_orderstatus", "o_totalprice"]
        ]
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    assert (got.o_orderkey.values == exp.o_orderkey.values).all()
    plan = r.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_groupby_filter_expr_jvm(orders, orders_pd):
    r = orders.groupby("o_orderstatus").filter_expr(
        "sum(o_totalprice) > 1000000 AND count(*) >= 5"
    )
    got = r.to_spark().toPandas().sort_values("o_orderkey").reset_index(drop=True)
    exp = (
        orders_pd.groupby("o_orderstatus")
        .filter(lambda g: g.o_totalprice.sum() > 1000000 and len(g) >= 5)
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    assert (got.o_orderkey.values == exp.o_orderkey.values).all()
    # the whole pipeline stays JVM-side (HAVING-agg + semi-join)
    plan = r.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "EvalPython" not in plan


def test_series_rank_matches_pandas(orders, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    for col, asc in [("o_custkey", True), ("o_totalprice", False)]:
        s = orders[col]
        for method in ["average", "min", "max", "first", "dense"]:
            for pct in [False, True]:
                got = (
                    s.rank(method=method, ascending=asc, pct=pct)
                    .to_spark()
                    .toPandas()
                    .set_index("o_orderkey")
                    .sort_index()["rank"]
                )
                exp = pdf[col].rank(method=method, ascending=asc, pct=pct)
                assert (abs(got - exp) < 1e-9).all(), (col, method, pct)
    with pytest.raises(ValueError, match="method"):
        orders["o_custkey"].rank(method="bogus")


def test_crosstab_and_series_astype(orders, orders_pd):
    got = orders.crosstab("o_orderstatus", "o_orderpriority")
    exp = pd.crosstab(orders_pd.o_orderstatus, orders_pd.o_orderpriority)
    assert (got.values == exp.values).all()
    assert list(got.columns) == list(exp.columns)
    s = orders["o_totalprice"].astype("int64")
    assert s.dtype == "int64"
    assert (
        s.head(5).tolist() == orders_pd.o_totalprice.head(5).astype("int64").tolist()
    )


def test_groupby_series_key_matches_pandas(orders, orders_pd):
    yr = orders["o_orderdate"].dt.year.rename("order_year")
    g = orders.groupby(yr).sum(numeric_only=True)
    exp = orders_pd.groupby(
        orders_pd.o_orderdate.dt.year.rename("order_year")
    ).sum(numeric_only=True)
    assert (
        g["o_totalprice"].round(2).tolist()
        == exp["o_totalprice"].round(2).tolist()
    )
    g2 = orders.groupby(["o_orderstatus", yr]).count()
    exp2 = orders_pd.groupby(
        ["o_orderstatus", orders_pd.o_orderdate.dt.year.rename("order_year")]
    ).count()
    assert len(g2) == len(exp2)
    import eland_spark as es

    with pytest.raises(ValueError, match="derive from this frame"):
        spark2 = orders.to_spark().sparkSession
        cust = es.read_parquet(
            spark2, "/root/testdata/sf0.001/customer.parquet", index_col="c_custkey"
        )
        orders.groupby(cust["c_mktsegment"])


def test_str_accessor_extensions(orders, orders_pd):
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    s = orders["o_orderpriority"]
    ps = pdf.o_orderpriority

    def col(series):
        return (
            orders.assign(x=series)[["o_orderkey", "x"]]
            .to_spark()
            .toPandas()
            .set_index("o_orderkey")
            .sort_index()["x"]
        )

    assert (
        col(s.str.extract(r"(\d+)-", expand=False)).fillna("§")
        == ps.str.extract(r"(\d+)-", expand=False).fillna("§")
    ).all()
    assert (
        col(s.str.count(r"[aeiou]")).astype(int) == ps.str.count(r"[aeiou]").astype(int)
    ).all()
    for side in ["left", "right", "both"]:
        assert (
            col(s.str.pad(12, side=side, fillchar="_"))
            == ps.str.pad(12, side=side, fillchar="_")
        ).all()
    assert (
        col(orders["o_orderkey"].astype("string").str.zfill(8))
        == pdf.index.to_series().astype(str).str.zfill(8)
    ).all()
    # title capitalizes after non-letters too (initcap would not)
    assert (col(s.str.title()) == ps.str.title()).all()


def test_value_counts_bins(orders, orders_pd):
    vc = orders["o_totalprice"].value_counts(bins=5)
    evc = orders_pd.o_totalprice.value_counts(bins=5)
    assert sorted(vc.values.tolist()) == sorted(evc.values.tolist())
    assert vc.values.sum() == len(orders_pd)


def test_groupby_named_agg_matches_pandas(orders, orders_pd):
    import numpy as np

    got = orders.groupby("o_orderstatus").agg(
        total=("o_totalprice", "sum"), n=("o_orderkey", "count")
    )
    exp = orders_pd.groupby("o_orderstatus").agg(
        total=("o_totalprice", "sum"), n=("o_orderkey", "count")
    )
    assert list(got.columns) == list(exp.columns)
    assert np.allclose(got.total.values, exp.total.values)
    assert (got.n.values == exp.n.values).all()
    with pytest.raises(TypeError, match="either positional"):
        orders.groupby("o_orderstatus").agg("sum", x=("o_custkey", "max"))


def test_merge_indicator_matches_pandas(spark, sf_dir, orders, orders_pd):
    import eland_spark as es

    c = es.read_parquet(spark, f"{sf_dir}/customer.parquet", index_col="c_custkey")
    half = c[c["c_custkey"] < 75][["c_custkey", "c_mktsegment"]]
    m = orders[["o_orderkey", "o_custkey"]].merge(
        half, how="outer", left_on="o_custkey", right_on="c_custkey", indicator=True
    )
    got = (
        m.to_spark()
        .groupBy("_merge")
        .count()
        .toPandas()
        .set_index("_merge")["count"]
        .to_dict()
    )
    pc = c.to_pandas()
    pc = pc[pc.c_custkey < 75][["c_custkey", "c_mktsegment"]]
    exp = (
        pd.merge(
            orders_pd[["o_orderkey", "o_custkey"]],
            pc,
            how="outer",
            left_on="o_custkey",
            right_on="c_custkey",
            indicator=True,
        )
        ._merge.value_counts()
        .to_dict()
    )
    assert got == {str(k): v for k, v in exp.items() if v}


def test_str_justify_and_frame_isna(orders, orders_pd, spark, sf_dir):
    import eland_spark as es

    pdf = orders_pd.set_index("o_orderkey").sort_index()
    s = orders["o_orderpriority"]
    ps = pdf.o_orderpriority

    def col(series):
        return (
            orders.assign(x=series)[["o_orderkey", "x"]]
            .to_spark()
            .toPandas()
            .set_index("o_orderkey")
            .sort_index()["x"]
        )

    assert (col(s.str.ljust(12, ".")) == ps.str.ljust(12, ".")).all()
    assert (col(s.str.rjust(12, ".")) == ps.str.rjust(12, ".")).all()
    # odd total pad: pandas centers with the extra fill on the LEFT
    assert (col(s.str.center(13, ".")) == ps.str.center(13, ".")).all()
    assert (col(s.str.repeat(2)) == ps.str.repeat(2)).all()
    assert (
        col(s.str.slice_replace(1, 3, "XX")) == ps.str.slice_replace(1, 3, "XX")
    ).all()

    ev = es.read_parquet(spark, f"{sf_dir}/events.parquet", index_col="event_id")
    g = ev.isna().to_spark().toPandas().set_index("event_id").sort_index()
    e = ev.to_pandas().set_index("event_id").sort_index().isna()
    for c in g.columns:
        assert (g[c].values == e[c].values).all(), c


def test_groupby_filter_matches_pandas(orders, orders_pd):
    # threshold sits between the per-status means -> groups split
    cond = lambda g: g.o_totalprice.mean() > 249500  # noqa: E731
    f = orders.groupby("o_orderstatus").filter(cond)
    got = sorted(f.to_spark().toPandas().o_orderkey)
    exp = sorted(orders_pd.groupby("o_orderstatus").filter(cond).o_orderkey)
    assert got == exp
    assert 0 < len(got) < len(orders_pd)


def test_groupby_head_nth_match_pandas(orders, orders_pd):
    pdf = orders_pd.sort_values("o_orderkey")
    got = sorted(orders.groupby("o_orderstatus").head(3).to_spark().toPandas().o_orderkey)
    exp = sorted(pdf.groupby("o_orderstatus").head(3).o_orderkey)
    assert got == exp
    got = sorted(orders.groupby("o_orderstatus").nth(1).to_spark().toPandas().o_orderkey)
    exp = sorted(pdf.groupby("o_orderstatus").nth(1).o_orderkey)
    assert got == exp


def test_pivot_table_margins_matches_pandas(orders, orders_pd):
    import numpy as np

    got = orders.pivot_table(
        "o_orderstatus", "o_orderpriority", "o_totalprice", "mean", margins=True
    )
    exp = pd.pivot_table(
        orders_pd,
        index="o_orderstatus",
        columns="o_orderpriority",
        values="o_totalprice",
        aggfunc="mean",
        margins=True,
    )
    assert list(got.columns) == list(exp.columns)
    assert list(got.index) == list(exp.index)
    assert np.allclose(got.values.astype(float), exp.values.astype(float))


def test_describe_include_all(orders, orders_pd):
    got = orders.describe(include="all")
    exp = orders_pd.describe(include="all")
    for c in ["o_orderstatus", "o_orderpriority"]:
        assert got.loc["count", c] == exp.loc["count", c]
        assert got.loc["unique", c] == exp.loc["unique", c]
        assert got.loc["freq", c] == exp.loc["freq", c]
    assert (
        abs(got.loc["mean", "o_totalprice"] - exp.loc["mean", "o_totalprice"]) < 1e-6
    )
    assert pd.isna(got.loc["unique", "o_totalprice"])


@pytest.mark.parametrize("na_position", ["last", "first"])
def test_to_pandas_row_order_matches_pandas(spark, na_position):
    """Rows come back in pandas order without a Spark global sort:
    plain index order, and sort_values with ties and nulls (ties fall
    back to index order, like a stable pandas sort of an index-sorted
    frame)."""
    import eland_spark as es

    rng = np.random.RandomState(3)
    n = 400
    rows = [
        (int(k), None if rng.rand() < 0.2 else int(rng.randint(0, 5)),
         [None, "x", "y"][rng.randint(0, 3)], float(rng.rand()))
        for k in rng.permutation(n)
    ]
    sdf = spark.createDataFrame(rows, "k long, a long, b string, v double")
    frame = es.DataFrame(sdf.repartition(4), index_cols=("k",))
    ref = (pd.DataFrame(rows, columns=["k", "a", "b", "v"])
           .sort_values("k").reset_index(drop=True))

    got = frame.to_pandas()
    pdt.assert_frame_equal(got, ref, check_dtype=False)

    for by, asc in ((["a"], True), (["a", "b"], [False, True]), (["b"], False)):
        want = ref.sort_values(by, ascending=asc, na_position=na_position,
                               kind="mergesort").reset_index(drop=True)
        got = frame.sort_values(by, ascending=asc, na_position=na_position).to_pandas()
        pdt.assert_frame_equal(got, want, check_dtype=False)


def test_sort_index_descending_head_tail_to_pandas_match_pandas(orders, orders_pd):
    """sort_index(ascending=False) records its keys: head/tail pick the
    rows pandas picks, and to_pandas presents them descending."""
    pdf = orders_pd.set_index("o_orderkey").sort_index(ascending=False)
    desc = orders.sort_index(ascending=False)
    assert list(desc.head(3).to_pandas()["o_orderkey"]) == list(pdf.head(3).index)
    assert list(desc.tail(4).to_pandas()["o_orderkey"]) == list(pdf.tail(4).index)
    assert list(desc.to_pandas()["o_orderkey"]) == list(pdf.index)


def test_nlargest_nsmallest_keep_their_order(orders, orders_pd):
    """nlargest/nsmallest record their sort keys, so the result comes
    back in value order and a following head/tail slices that order."""
    pdf = orders_pd.set_index("o_orderkey").sort_index()
    for n, method in ((3, "nlargest"), (4, "nsmallest")):
        got = getattr(orders, method)(n, "o_totalprice").to_pandas()
        want = getattr(pdf, method)(n, "o_totalprice")
        assert list(got["o_orderkey"]) == list(want.index), method
    got = orders.nlargest(5, "o_totalprice").tail(2).to_pandas()
    want = pdf.nlargest(5, "o_totalprice").tail(2)
    assert list(got["o_orderkey"]) == list(want.index)
    got = orders.nlargest(5, "o_totalprice").head(2).to_pandas()
    assert list(got["o_orderkey"]) == list(pdf.nlargest(5, "o_totalprice").head(2).index)
