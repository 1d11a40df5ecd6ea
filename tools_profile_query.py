"""Per-query cost profiler: splits a queries() entry's wall time into
(a) DataFrame construction (py4j + analysis), (b) first execution
(includes codegen), (c) steady-state execution (min of N more runs),
and counts Spark jobs/stages/tasks triggered by one execution — the
job-wave number that dominates small-scale latency for iterative
plans — and the Janino compiles of the first execution and of the
fastest steady-state run (``plans.inspect.codegen_stats``; a steady
run that still compiles is recompiling evicted or literal-specific
classes).

    python tools_profile_query.py simhash_near_dup dup_spans ...

Env: SPARK_GRAFT_SF_DIR (default sf0.1), PROFILE_RUNS (default 2).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

from eland_spark.plans.inspect import codegen_stats
from perfbench.harness import read_steal

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("PROFILE_RUNS", "2"))


def _steal_pct(before: "tuple[int, int]") -> float:
    """Hypervisor steal share (%) since a :func:`read_steal` sample; a
    timing taken during a steal burst is garbage, so every measurement
    below carries the steal it saw."""
    s0, t0 = before
    s1, t1 = read_steal()
    return round(100.0 * (s1 - s0) / max(1, t1 - t0), 2)


def main() -> None:
    names = sys.argv[1:]
    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(here, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    import eland_spark as es

    spark = es.get_session("profile_query")
    queries = entry.queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warm the session like bench.py does (parquet footers only — keep
    # this light; first-run numbers here deliberately INCLUDE codegen)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    results = {}
    for name in names:
        fn = queries[name]
        cpu0 = read_steal()
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t_build = time.perf_counter() - t0

        jobs_before = set(tracker.getJobIdsForGroup(None) or [])
        cg0 = codegen_stats(spark)["compiles"]
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_first = time.perf_counter() - t0
        first_compiles = codegen_stats(spark)["compiles"] - cg0
        jobs_after = set(tracker.getJobIdsForGroup(None) or [])
        n_jobs = len(jobs_after - jobs_before)

        best = None
        best_steal = None
        best_compiles = None
        for _ in range(RUNS):
            c0 = read_steal()
            cg0 = codegen_stats(spark)["compiles"]
            t0 = time.perf_counter()
            d2 = fn(spark, SF_DIR)
            d2.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best, best_steal, best_compiles = (
                    dt, _steal_pct(c0), codegen_stats(spark)["compiles"] - cg0
                )

        results[name] = {
            "build_s": round(t_build, 3),
            "first_exec_s": round(t_first, 3),
            "steady_total_s": round(best, 3),
            "jobs_per_exec": n_jobs,
            "first_exec_compiles": first_compiles,
            "steady_compiles": best_compiles,
            "steal_pct": _steal_pct(cpu0),
            "steady_steal_pct": best_steal,
        }
        print(f"{name}: {json.dumps(results[name])}", flush=True)

    print("PROFILE " + json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
