"""bench.py contract pins — no Spark session needed.

The round driver records only the last ~2000 characters of bench
stdout and parses the JSON from that window (r5's 100-query inline
timing dict overflowed it and the driver recorded ``parsed: null``),
so the stdout line's size is a hard contract, as is every name bench
references existing in queries().
"""

import importlib.util
import json
import os
import sys

_REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402


def _query_names():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(_REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return set(m.queries()), set(m.oracle_sql())


def test_bench_names_exist_and_headline_has_no_dupes():
    qnames, _ = _query_names()
    missing = [n for n in bench.HEADLINE if n not in qnames]
    assert not missing, f"HEADLINE names not in queries(): {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    # ROW_HEAVY may keep names for queries routed through noop anyway,
    # but a name absent from queries() is always a typo
    assert not {n for n in bench.ROW_HEAVY} - qnames - {"window_running_sum"}
    assert not set(bench.SLOW_LEDGER) - qnames


def test_every_query_is_timed_by_some_tier():
    """The full-sweep tier exists precisely so no queries() entry is
    unbenched (the r5 series_ewm 122s lesson): headline + sweep must
    cover everything, by construction sweep = queries - headline."""
    qnames, _ = _query_names()
    assert set(bench.HEADLINE) <= qnames  # sweep picks up the rest


def test_stdout_contract_line_fits_driver_tail_window():
    """Reconstruct the stdout JSON line with worst-case field widths
    and assert it stays under the driver's ~2000-char tail window."""
    slowest = {f"a_very_long_query_name_{i:02d}": 123.456 for i in range(15)}
    line = json.dumps(
        {
            "metric": "headline_total",
            "value": 99999.999,
            "unit": "sec",
            "sf": 0.1,
            "runs_per_query": 3,
            "agg": "min",
            "n_headline": len(bench.HEADLINE),
            "sweep_total": 99999.999,
            "n_queries": 999,
            "over_budget": [],
            "slowest": slowest,
            "vs_committed": {
                "n_common": 999,
                "geomean_speedup": 1.234,
                "n_regressed": 99,
                "worst": {
                    f"another_very_long_query_name_{i}": [123.456, 999.999]
                    for i in range(3)
                },
            },
            "queries_file": "BENCH_FULL.json",
        }
    )
    assert len(line) < 1900, len(line)


def test_vs_committed_digest():
    """_vs_committed: bounded digest, worst-3 only, regression bar is
    the --compare gate's (>1.3x AND >0.2s)."""
    prior = {f"q{i}": 1.0 for i in range(10)}
    now = {f"q{i}": 1.0 for i in range(10)}
    now["q1"] = 2.0   # 2x, +1s -> regression
    now["q2"] = 1.4   # 1.4x, +0.4s -> regression
    now["q3"] = 1.45  # 1.45x but +0.45s -> regression
    now["q4"] = 0.5   # improvement
    now["q9"] = 1.15  # 1.15x -> under ratio bar
    d = bench._vs_committed(now, prior)
    assert d["n_common"] == 10
    assert d["n_regressed"] == 3
    assert list(d["worst"]) == ["q1", "q3", "q2"]  # ratio-ordered
    assert d["worst"]["q1"] == [1.0, 2.0]
    assert 0 < d["geomean_speedup"] < 2
    # tiny-delta swings on sub-0.2s queries never count
    d2 = bench._vs_committed({"q": 0.15}, {"q": 0.05})
    assert d2["n_regressed"] == 0
    assert bench._vs_committed({"q": 1.0}, {}) == {"n_common": 0}
    # a committed 0.0 s has no ratio: skipped on purpose (no division
    # by zero), while its positive neighbours still count
    d3 = bench._vs_committed({"z": 0.3, "q": 1.0}, {"z": 0.0, "q": 1.0})
    assert d3["n_common"] == 1 and d3["n_regressed"] == 0
    assert bench._vs_committed({"z": 0.3}, {"z": 0.0}) == {"n_common": 0}


def test_compare_recovers_from_truncated_driver_tail():
    """BENCH_r05.json shipped with parsed: null — _prev_queries must
    still recover per-query timings from the recorded tail."""
    prev = {
        "parsed": None,
        "tail": '_topk": 0.396, "series_rank": 0.429, "sessionize": 0.202}'
        ', "sf": 0.1, "runs_per_query": 3, "agg": "min"}\n',
    }
    got = bench._prev_queries(prev)
    assert got["series_rank"] == 0.429 and got["sessionize"] == 0.202
    assert "sf" not in got
    # the normal shapes still work
    assert bench._prev_queries({"queries": {"q": 1.0}}) == {"q": 1.0}
    assert bench._prev_queries({"parsed": {"queries": {"q": 2.0}}}) == {"q": 2.0}


def test_budget_ratchet_verdicts():
    """_busts_budget: under-budget and ledgered entries never bust; an
    over-budget entry with a clean committed prior within the 2x(+1s)
    noise envelope is excused; a genuine cliff busts with or without a
    prior; a prior that was itself over budget cannot excuse."""
    prior = {"steady": 3.0, "already_slow": 6.0}
    B = 5.0
    assert not bench._busts_budget("anything", 4.9, B, prior)
    assert not bench._busts_budget("ngram_jaccard", 9.0, B, prior)  # ledgered
    # 3.0s prior, now 6.5 <= 2*3+1 -> machine noise
    assert not bench._busts_budget("steady", 6.5, B, prior)
    # 3.0s prior, now 8.0 > 2*3+1 -> real
    assert bench._busts_budget("steady", 8.0, B, prior)
    # no prior -> absolute budget stands
    assert bench._busts_budget("new_query", 5.5, B, prior)
    # prior itself over budget cannot excuse
    assert bench._busts_budget("already_slow", 7.0, B, prior)


def test_steal_excuse_is_narrow():
    """_steal_excused: only an entry whose EVERY timing window was
    stolen (steal_flagged) AND whose committed prior was under budget
    escapes the budget gate — a new query, a query with a slow prior,
    or one that saw any clean window still busts (r7 rc=3 lesson:
    burst-inflated numbers must not fail the round, but the excuse
    must not hide a real cliff behind one noisy window)."""
    prior = {"steady": 3.0, "already_slow": 6.0}
    B = 5.0
    flagged = {"steady": 18.4, "already_slow": 9.9, "new_query": 25.0}
    assert bench._steal_excused("steady", B, prior, flagged)
    # prior itself over budget -> no excuse
    assert not bench._steal_excused("already_slow", B, prior, flagged)
    # no committed prior -> no excuse
    assert not bench._steal_excused("new_query", B, prior, flagged)
    # had a clean window (not flagged) -> the timing stands on its own
    assert not bench._steal_excused("steady", B, prior, {})


def test_steal_pct_handles_missing_procfs():
    """_steal_pct must degrade to 0.0 (never raise) when /proc/stat is
    unavailable or time did not advance."""
    assert bench._steal_pct((0, 0)) >= 0.0
    assert bench._steal_pct(bench.read_steal()) >= 0.0
    assert bench._steal_pct((10**18, 10**18)) == 0.0
