"""The drift tests on an empty side: no operator may raise (Spark ANSI
mode turns an unguarded ``x / 0`` into DIVIDE_BY_ZERO), the side sizes
must be reported, and the statistics that need both sides are null —
DuckDB's ``x/0 = NULL``, which the driver queries' oracles replay on a
one-row copy of the test data."""

import importlib.util
import math
import os
import sys

import pyarrow.parquet as pq
import pytest

_REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from driver_gate import TABLES, connect_duck, driver_check  # noqa: E402

from eland_spark.operators import drift  # noqa: E402

SF = "/root/testdata/sf0.001"
EPS = 1e-4


def _side(spark, n):
    rows = [("a", 2.5)][:n]
    return spark.createDataFrame(rows, schema="k string, v double")


def _row(df):
    return df.collect()[0].asDict()


def _bins_check(rows, n_ref, n_cur):
    assert len(rows) == 1
    r = rows[0]
    assert r["ref_frac"] == (1.0 if n_ref else None)
    assert r["cur_frac"] == (1.0 if n_cur else None)
    # the empty side's fractions sit at the eps floor
    assert r["psi_term"] == pytest.approx(
        (1 - EPS) * math.log(1 / EPS), abs=1e-6
    )


def _ks(ref, cur, n_ref, n_cur):
    assert _row(drift.ks_statistic(ref, cur, "v")) == {
        "ks": None, "n_ref": n_ref, "n_cur": n_cur,
    }


def _mwu(ref, cur, n_ref, n_cur):
    assert _row(drift.mann_whitney_u(ref, cur, "v")) == {
        "u": None, "z": None, "n_ref": n_ref, "n_cur": n_cur,
    }


def _scorecard(ref, cur, n_ref, n_cur):
    assert _row(drift.rank_scorecard(ref, cur, "v")) == {
        "ks": None, "u": None, "z": None, "n_ref": n_ref, "n_cur": n_cur,
    }


def _bins_numeric(ref, cur, n_ref, n_cur):
    rows = drift.drift_bins(ref, cur, "v", edges=[0.0, 10.0]).collect()
    _bins_check(rows, n_ref, n_cur)
    assert rows[0]["bin"] == 0


def _bins_categorical(ref, cur, n_ref, n_cur):
    rows = drift.drift_bins(ref, cur, "v").collect()
    _bins_check(rows, n_ref, n_cur)
    assert rows[0]["bin"] == "2.5"


def _psi(ref, cur, n_ref, n_cur):
    got = drift.psi(ref, cur, "v", edges=[0.0, 10.0])
    assert got == pytest.approx((1 - EPS) * math.log(1 / EPS), abs=1e-6)


def _js(ref, cur, n_ref, n_cur):
    assert _row(drift.js_divergence(ref, cur, "v", edges=[0.0, 10.0])) == {
        "js": None, "js_distance": None, "n_ref": n_ref, "n_cur": n_cur,
    }


def _battery(ref, cur, n_ref, n_cur):
    assert [r.asDict() for r in drift.ks_battery(ref, cur, "k", "v").collect()] == [
        {"k": "a", "ks": None, "p": None, "n_ref": n_ref, "n_cur": n_cur}
    ]


OPS = {
    "ks_statistic": _ks,
    "mann_whitney_u": _mwu,
    "rank_scorecard": _scorecard,
    "drift_bins_numeric": _bins_numeric,
    "drift_bins_categorical": _bins_categorical,
    "psi": _psi,
    "js_divergence": _js,
    "ks_battery": _battery,
}


@pytest.mark.parametrize("sizes", [(1, 0), (0, 1)], ids=["ref1_cur0", "ref0_cur1"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_operator_survives_empty_side(spark, op, sizes):
    n_ref, n_cur = sizes
    OPS[op](_side(spark, n_ref), _side(spark, n_cur), n_ref, n_cur)


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(_REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


@pytest.fixture(scope="module")
def one_row_dir(tmp_path_factory):
    """Every test table cut to its first row: lineitem's one row is an
    'O' line, so the drift queries see an empty 'F' reference side."""
    d = tmp_path_factory.mktemp("one_row")
    for t in TABLES:
        pq.write_table(
            pq.read_table(f"{SF}/{t}.parquet").slice(0, 1),
            str(d / f"{t}.parquet"),
        )
    return str(d)


@pytest.mark.parametrize(
    "name", ["drift_ks", "drift_psi", "drift_scorecard", "rank_sum_test", "drift_js"]
)
def test_drift_query_matches_oracle_on_one_row(spark, entry, one_row_dir, name):
    spark_pdf = entry.queries()[name](spark, one_row_dir).toPandas()
    duck = connect_duck(one_row_dir)
    try:
        duck_pdf = duck.execute(entry.oracle_sql()[name]).df()
    finally:
        duck.close()
    rec = driver_check(name, spark_pdf, duck_pdf)
    assert rec["hash_match"], (rec, spark_pdf, duck_pdf)
