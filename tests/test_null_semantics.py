"""Null/NaN semantics parity — pandas AND the reference agree on these,
Spark's bare operators do not. Found by the composed-pipeline fuzzer.

- ``!=`` keeps null rows (pandas: NaN != x -> True; reference compiles
  to must_not term, and ES docs missing the field match a must_not —
  eland/series.py:541-552).
- sorts place nulls LAST by default (pandas na_position='last'; ES sort
  ``missing: _last``); Spark asc() is nulls-first.
- nlargest/nsmallest rank NaN rows last in both directions (fill-up
  only), never as extreme values.
- sort_values().head(n) selects the top-n of the USER sort, not the
  first-n by index (materialization still presents index order, the
  reference's SortIndexAction contract).
"""

import numpy as np
import pandas as pd
import pytest

import eland_spark as es

from eland_spark.frame import DataFrame as EDF


@pytest.fixture(scope="module")
def frame(spark):
    pdf = pd.DataFrame(
        {
            "k": [0, 0, 1, 1, 2],
            "a": [5.0, None, 1.0, 3.0, None],
            "b": [1.0, 2.0, 3.0, 4.0, 5.0],
            "_id": [0, 1, 2, 3, 4],
        }
    )
    sdf = spark.createDataFrame(
        pdf, schema="k bigint, a double, b double, _id bigint"
    )
    return pdf.set_index("_id"), EDF(sdf, index_cols=("_id",))


def test_ne_keeps_null_rows(frame):
    pdf, edf = frame
    got = edf[edf["a"] != 3.0].to_pandas()
    exp = pdf[pdf["a"] != 3.0]
    # pandas: NaN != 3.0 -> True, so both null rows survive
    assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist()) == [0, 1, 2, 4]


def test_ne_series_vs_series_null_rows(frame):
    pdf, edf = frame
    got = edf[edf["a"] != edf["b"]].to_pandas()
    exp = pdf[pdf["a"] != pdf["b"]]
    assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist())


def test_sort_values_nulls_last(frame):
    pdf, edf = frame
    got = edf.sort_values("a").to_spark().select("a").collect()
    vals = [r["a"] for r in got]
    assert vals[:3] == [1.0, 3.0, 5.0] and vals[3] is None and vals[4] is None
    desc = edf.sort_values("a", ascending=False).to_spark().select("a").collect()
    vals = [r["a"] for r in desc]
    assert vals[:3] == [5.0, 3.0, 1.0] and vals[3] is None
    first = (
        edf.sort_values("a", na_position="first").to_spark().select("a").collect()
    )
    assert first[0]["a"] is None and first[1]["a"] is None


def test_sorted_head_membership_follows_user_sort(frame):
    pdf, edf = frame
    got = edf.sort_values("a").head(2).to_pandas()
    exp = pdf.sort_values("a").head(2)
    assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist()) == [2, 3]
    # tail = last-n of the user sort (the null rows)
    got = edf.sort_values("a").tail(2).to_pandas()
    exp = pdf.sort_values("a").tail(2)
    assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist()) == [1, 4]
    # descending
    got = edf.sort_values("a", ascending=False).head(2).to_pandas()
    exp = pdf.sort_values("a", ascending=False).head(2)
    assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist()) == [0, 3]
    # a later sort_index clears the user ordering
    got = edf.sort_values("a").sort_index().head(2).to_pandas()
    assert sorted(got["_id"].tolist()) == [0, 1]


def test_user_sort_survives_filter(frame):
    pdf, edf = frame
    got = edf.sort_values("a")[edf["b"] > 1.0].head(2).to_pandas()
    exp = pdf.sort_values("a")[pdf["b"] > 1.0].head(2)
    assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist())


def test_nlargest_nsmallest_nan_last(frame):
    pdf, edf = frame
    for fn in ("nlargest", "nsmallest"):
        got = getattr(edf, fn)(3, "a").to_pandas()
        exp = getattr(pdf, fn)(3, "a")
        assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist()), fn
        # with n past the non-null count, NaN rows fill up — same sets
        got = getattr(edf, fn)(5, "a").to_pandas()
        exp = getattr(pdf, fn)(5, "a")
        assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist()), fn


def test_series_nlargest_nsmallest_nan_last(frame):
    pdf, edf = frame
    assert edf["a"].nsmallest(3).tolist()[:2] == [1.0, 3.0]
    assert edf["a"].nlargest(3).tolist()[:2] == [5.0, 3.0]
    # NaN only fills up; index labels match pandas
    assert list(edf["a"].nsmallest(5).index[:3]) == list(
        pdf["a"].nsmallest(5).index[:3]
    )


def test_series_sort_values_nulls_last(frame):
    pdf, edf = frame
    got = edf["a"].sort_values().to_pandas().tolist()
    assert got[:3] == [1.0, 3.0, 5.0] and all(np.isnan(x) for x in got[3:])


def test_invert_comparison_keeps_null_rows(frame):
    pdf, edf = frame
    got = edf[~(edf["a"] > 3.0)].to_pandas()
    exp = pdf[~(pdf["a"] > 3.0)]
    # pandas: (NaN > 3) is False, inverted True -> null rows kept
    assert sorted(got["_id"].tolist()) == sorted(exp.index.tolist())
    assert 1 in got["_id"].tolist() and 4 in got["_id"].tolist()


def test_merge_matches_nan_keys_like_pandas(spark):
    left = pd.DataFrame({"k": [1.0, None], "x": [1, 2]})
    right = pd.DataFrame({"k": [None, 1.0], "y": [10, 20]})
    el = EDF(spark.createDataFrame(left, schema="k double, x bigint"))
    er = EDF(spark.createDataFrame(right, schema="k double, y bigint"))
    got = el.merge(er, on="k").to_pandas().sort_values("x")
    exp = left.merge(right, on="k").sort_values("x")
    assert len(got) == len(exp) == 2
    assert got["y"].tolist() == exp["y"].tolist() == [20, 10]
    # null-safe key still plans as an equi join, not a nested loop
    plan = (
        el.merge(er, on="k")
        .to_spark()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_merge_left_on_right_on_null_safe(spark):
    left = pd.DataFrame({"lk": [None, 2.0], "x": [1, 2]})
    right = pd.DataFrame({"rk": [None, 3.0], "y": [10, 20]})
    el = EDF(spark.createDataFrame(left, schema="lk double, x bigint"))
    er = EDF(spark.createDataFrame(right, schema="rk double, y bigint"))
    got = el.merge(er, left_on="lk", right_on="rk").to_pandas()
    exp = left.merge(right, left_on="lk", right_on="rk")
    assert len(got) == len(exp) == 1
    assert got["y"].tolist() == [10]


def test_merge_semi_anti_still_work(spark):
    left = pd.DataFrame({"k": [1.0, 2.0, None], "x": [1, 2, 3]})
    right = pd.DataFrame({"k": [2.0, None], "y": [10, 20]})
    el = EDF(spark.createDataFrame(left, schema="k double, x bigint"))
    er = EDF(spark.createDataFrame(right, schema="k double, y bigint"))
    semi = el.merge(er, on="k", how="left_semi").to_pandas()
    # null-safe: the NaN-keyed left row matches the NaN right row
    assert sorted(semi["x"].tolist()) == [2, 3]
    anti = el.merge(er, on="k", how="left_anti").to_pandas()
    assert anti["x"].tolist() == [1]


# Two frames whose index holds a NaN label (the null key in Spark): rows
# 1.0 and NaN are shared, 3.0 is left-only and 4.0 right-only, and the
# NaN row's `x` differs between the sides.
_NAN_IDX_L = pd.DataFrame(
    {"x": [1.0, 2.0, 3.0, 5.0], "y": [10.0, None, 30.0, 50.0]},
    index=pd.Index([1.0, np.nan, 3.0, 5.0], name="k"),
)
_NAN_IDX_R = pd.DataFrame(
    {"x": [1.5, 20.0, 4.0, 5.0], "z": [100.0, 200.0, 400.0, 500.0]},
    index=pd.Index([1.0, np.nan, 4.0, 5.0], name="k"),
)
# identically labelled to _NAN_IDX_L, as pandas compare requires
_NAN_IDX_C = pd.DataFrame(
    {"x": [1.0, 20.0, 3.0, 6.0], "y": [10.0, None, 31.0, 50.0]},
    index=_NAN_IDX_L.index,
)


def _pd_update(left, right, overwrite):
    out = left.copy()
    out.update(right, overwrite=overwrite)
    return out


def _flat_compare(left, right):
    out = left.compare(right)
    out.columns = [f"{c}_{side}" for c, side in out.columns]
    return out


_NAN_LABEL_OPS = {
    "merge": (
        lambda l, r, c: l.reset_index().merge(r[["z"]].reset_index(), on="k")
        .set_index("k"),
        lambda l, r, c: l.merge(r[["z"]], on="k"),
    ),
    "update_overwrite": (
        lambda l, r, c: _pd_update(l, r, True),
        lambda l, r, c: l.update(r, overwrite=True),
    ),
    "update_fill_only": (
        lambda l, r, c: _pd_update(l, r, False),
        lambda l, r, c: l.update(r, overwrite=False),
    ),
    "corrwith": (
        # every column of either frame: the unshared ones as NaN
        lambda l, r, c: pd.DataFrame([l.corrwith(r)]),
        lambda l, r, c: pd.DataFrame([l.corrwith(r)]),
    ),
    "concat_axis1": (
        lambda l, r, c: pd.concat([l, r[["z"]]], axis=1),
        lambda l, r, c: es.concat([l, r[["z"]]], axis=1),
    ),
    "merge_ordered": (
        lambda l, r, c: pd.merge_ordered(
            l.reset_index(), r[["z"]].reset_index(), on="k"
        ).set_index("k"),
        lambda l, r, c: es.merge_ordered(l, r[["z"]], on="k"),
    ),
    "reindex": (
        lambda l, r, c: l.reindex([np.nan, 3.0, 7.0]),
        lambda l, r, c: l.reindex([np.nan, 3.0, 7.0]),
    ),
    "reindex_fill_value": (
        lambda l, r, c: l.reindex([np.nan, 3.0, 7.0], fill_value=0.0),
        lambda l, r, c: l.reindex([np.nan, 3.0, 7.0], fill_value=0.0),
    ),
    "compare": (
        lambda l, r, c: _flat_compare(l, c),
        lambda l, r, c: l.compare(c),
    ),
    "combine_first": (
        lambda l, r, c: l.combine_first(r),
        lambda l, r, c: l.combine_first(r),
    ),
}
for _join in ("outer", "inner", "left", "right"):
    for _fill in (None, 0.0):
        for _side in (0, 1):
            _NAN_LABEL_OPS[f"align_{_join}_fill{_fill}_{_side}"] = (
                lambda l, r, c, j=_join, f=_fill, s=_side:
                    l.align(r, join=j, fill_value=f)[s],
                lambda l, r, c, j=_join, f=_fill, s=_side:
                    l.align(r, join=j, fill_value=f)[s],
            )


def _nan_label_norm(pdf):
    out = pdf.sort_index(axis=1).sort_index(na_position="last")
    out.index = out.index.astype("float64")
    return out.astype("float64")


@pytest.mark.parametrize("op", sorted(_NAN_LABEL_OPS))
def test_two_frame_ops_align_nan_labels_like_pandas(spark, op):
    """Every two-frame label op matches pandas on a NaN index label: the
    NaN row aligns with the other side's NaN row (one row, not two, not
    dropped, not blanked), through the one null-safe key join."""
    pd_op, es_op = _NAN_LABEL_OPS[op]

    def _edf(pdf):
        return EDF(spark.createDataFrame(pdf.reset_index()), index_cols=("k",))

    frames = (_NAN_IDX_L, _NAN_IDX_R, _NAN_IDX_C)
    exp = pd_op(*frames)
    got = es_op(*[_edf(p) for p in frames])
    if not isinstance(got, pd.DataFrame):
        got = got.to_pandas(set_index=True)
    pd.testing.assert_frame_equal(
        _nan_label_norm(got), _nan_label_norm(exp), check_names=False
    )


def test_frame_builds_key_joins_in_one_function():
    """frame.py builds label-join conditions in exactly one function:
    ``_key_join`` is the only function that hands ``eqNullSafe`` to a
    Spark join, and the only other joins in the module are the
    position/match joins of reindex(method=) and take, which join on a
    computed key, not on two frames' labels."""
    import ast
    from pathlib import Path

    import eland_spark.frame as frame_mod

    calls: dict[str, set[str]] = {"join": set(), "eqNullSafe": set()}

    def _visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, ast.FunctionDef) else fn
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in calls
                and not isinstance(child.func.value, ast.Constant)
            ):
                calls[child.func.attr].add(name)
            _visit(child, name)

    _visit(ast.parse(Path(frame_mod.__file__).read_text()), None)
    assert calls["join"] == {
        "_key_join", "_reindex_rows", "_reindex_rows_fold", "take"
    }
    assert calls["join"] & calls["eqNullSafe"] == {"_key_join"}
