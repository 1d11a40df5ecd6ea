"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload interactive_frame --seed 1 --seconds 10 --trace 0

Set-up starts the session and opens the tables three times (each a
fresh SparkContext on one JVM; the median counts) and makes one untimed
warm pass over every op kind, then one untimed settle round. The timed
loop runs as many whole rounds as the settle round's time says fill
``--seconds``. One client, closed loop: the next op
starts when the previous one returned.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` runs every op twice, once with spans and once without
(alternating which goes first) and reports the per-layer metrics and
the tracing overhead. Every run writes its ops, failures, metrics and,
when traced, its spans to
``.perfbench/runs/<workload>-seed<seed>-trace<0|1>.json``.

Every op's output is checked; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.harness import (  # noqa: E402
    COUNTS, Engine, StealGate, Tracer, direct_call, self_times,
)
from perfbench.workloads import WORKLOADS  # noqa: E402

DATA_SEED = 42
SETUP_REPS = 3
BUILD_LAYERS = ("frame.build", "operators.build")
ACTION_LAYERS = ("exec", "result", "etl.write")
OP_LAYERS = ("frame.build", "operators.build", "plans.plan", "exec", "result", "etl.write")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="table scale factor (default: the workload's own)")
    return ap.parse_args(argv)


class Run:
    """The state of one benchmark run."""

    def __init__(self, engine, workload, rng, trace: bool):
        self.engine = engine
        self.wl = workload
        self.rng = rng
        self.trace = trace
        self.gate = StealGate()
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []          # kept attempts of timed ops
        self.untraced_latencies: list[float] = []  # twin runs of a traced loop
        self.round_of: dict[int, int] = {}         # op id -> round
        self.rows: dict[int, int] = {}             # op id -> rows returned
        self.extra: dict[int, dict] = {}           # op id -> workload counts
        self.ops_log: list[dict] = []              # one entry per timed op
        self.setup: dict[str, float] = {}
        self.settle_s = 0.0
        self.rounds = 0
        self.gc_s = 0.0

    # -- set-up ---------------------------------------------------------
    def set_up(self):
        starts, opens = [], []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            spark = self.engine.start() if rep == 0 else self.engine.restart()
            starts.append(time.perf_counter() - t)
            t = time.perf_counter()
            self.wl.open(spark)
            opens.append(time.perf_counter() - t)
        warm = 0.0
        for op in self.wl.round(self.rng):
            self.attempted += 1
            t = time.perf_counter()
            try:
                out = self.wl.warm(op)
            except Exception:
                self._fail(op, traceback.format_exc(limit=3))
                continue
            finally:
                warm += time.perf_counter() - t
            self._check(op, out)
        both = [s + o for s, o in zip(starts, opens)]
        self.setup = {
            "session.start_s": statistics.median(starts),
            "etl.read_s": statistics.median(opens),
            "warmup_s": warm,
            "setup_s": statistics.median(both) + warm,
        }

    def settle(self):
        """An untimed round after set-up, so the timed loop starts past the
        steepest part of the JIT warm-up; its time sizes the timed loop."""
        for op in self.wl.round(self.rng):
            self.attempted += 1
            try:
                out, lat = self.gate.run(lambda: self.wl.run(op, direct_call, False))
            except Exception:
                self._fail(op, traceback.format_exc(limit=3))
                continue
            self.settle_s += lat
            self._check(op, out)

    # -- timed loop -----------------------------------------------------
    def timed_loop(self, seconds: float):
        if self.trace:
            self.tracer = Tracer(self.engine.spark)
        gc0 = self.engine.gc_seconds()
        # whole rounds, as many as the settle round says fill `seconds`; a
        # count fixed before the loop keeps the mix equal between runs
        self.rounds = max(1, round(seconds / self.settle_s)) if self.settle_s else 1
        op_id = 0
        for rnd in range(self.rounds):
            for op in self.wl.round(self.rng):
                self.round_of[op_id] = rnd
                self._timed_op(op_id, op)
                op_id += 1
        self.gc_s = self.engine.gc_seconds() - gc0

    def _timed_op(self, op_id, op):
        self.attempted += 1
        plain = lambda: self.wl.run(op, direct_call, False)  # noqa: E731
        try:
            if not self.trace:
                out, lat = self.gate.run(plain)
                self.latencies.append(lat)
            else:
                # the traced and untraced twins alternate which goes first
                for traced in ((True, False) if op_id % 2 == 0 else (False, True)):
                    if traced:
                        out, lat = self._traced(op_id, op)
                        self.latencies.append(lat)
                    else:
                        twin, lat = self.gate.run(plain)
                        self.untraced_latencies.append(lat)
                        self._check(op, twin)
        except Exception:
            self._fail(op, traceback.format_exc(limit=3))
            return
        self.ops_log.append({"op": op_id, "round": self.round_of[op_id], "kind": op.kind,
                             "latency_s": self.latencies[-1]})
        if out is not None and hasattr(out, "__len__"):
            self.rows[op_id] = len(out)
        self._check(op, out)

    def _traced(self, op_id, op):
        tracer = self.tracer

        def attempt():
            tracer.begin_op(op_id, op.kind)
            try:
                return self.wl.run(op, tracer.call, True)
            finally:
                tracer.end_op()

        out, _ = self.gate.run(attempt)
        root = tracer.keep_op()
        tracer.collect_counts()
        self.extra[op_id] = self.wl.op_counts(op)
        return out, root.end - root.start

    # -- checks ---------------------------------------------------------
    def _fail(self, op, why):
        self.failures.append(f"{op.kind} {op.params}: {why.strip()}")
        print(f"FAILED {self.failures[-1]}", file=sys.stderr)

    def _check(self, op, out):
        msg = self.wl.check(op, out)
        if msg:
            self._fail(op, msg)

    # -- metrics --------------------------------------------------------
    def end_to_end(self) -> dict:
        lat = self.latencies
        return {
            "ops_per_s": (len(lat) / sum(lat), "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "setup_s": (self.setup["setup_s"], "s"),
        }

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        own = self_times(spans)
        n_ops = len(self.latencies)
        per_op = {layer: 0.0 for layer in OP_LAYERS}
        gap = 0.0
        build_jobs = dict.fromkeys(BUILD_LAYERS, 0)
        counts = dict.fromkeys(COUNTS, 0)
        for s in spans:
            if s.parent is None:
                gap += own[s.span_id]
                continue
            per_op[s.name] += own[s.span_id]
            if self.round_of[s.op_id] != 0 or not s.counts:
                continue
            if s.name in BUILD_LAYERS:
                build_jobs[s.name] += s.counts["jobs"]
            elif s.name in ACTION_LAYERS:
                for k in COUNTS:
                    counts[k] += s.counts[k]
        round0 = [i for i, r in self.round_of.items() if r == 0]
        written = sum(self.extra.get(i, {}).get("write_bytes", 0) for i in round0)
        read_in = sum(self.extra.get(i, {}).get("input_bytes", 0) for i in round0)
        plan_total = per_op["plans.plan"]
        self.overhead_pct = 100.0 * (
            (sum(self.latencies) - plan_total) / sum(self.untraced_latencies) - 1.0)
        self.closure = abs(sum(own[s.span_id] for s in spans) - sum(self.latencies))
        m = {
            "session.start_s": (self.setup["session.start_s"], "s"),
            "etl.read_s": (self.setup["etl.read_s"], "s"),
            "warmup_s": (self.setup["warmup_s"], "s"),
            "frame.build_s": (per_op["frame.build"] / n_ops, "s"),
            "frame.build_jobs": (build_jobs["frame.build"], "count"),
            "plans.plan_s": (plan_total / n_ops, "s"),
            "operators.build_s": (per_op["operators.build"] / n_ops, "s"),
            "operators.build_jobs": (build_jobs["operators.build"], "count"),
            "exec.s": (per_op["exec"] / n_ops, "s"),
            "exec.jobs": (counts["jobs"], "count"),
            "exec.stages": (counts["stages"], "count"),
            "exec.tasks": (counts["tasks"], "count"),
            "exec.shuffle_write_bytes": (counts["shuffle_write_bytes"], "bytes"),
            "exec.spill_bytes": (counts["spill_bytes"], "bytes"),
            "result.s": (per_op["result"] / n_ops, "s"),
            "result.rows": (sum(self.rows.get(i, 0) for i in round0), "count"),
            "etl.write_s": (per_op["etl.write"] / n_ops, "s"),
            "etl.write_bytes_per_input_byte": (written / read_in if read_in else 0.0, "ratio"),
            "jvm.gc_s": (self.gc_s / (2 * n_ops), "s"),
            "cache.persistent_rdds": (self.engine.persistent_rdds(), "count"),
            "trace.gap_s": (gap / n_ops, "s"),
            "trace.overhead_pct": (self.overhead_pct, "%"),
            "harness.steal_pct": (self.gate.steal_pct, "%"),
            "harness.steal_retries": (self.gate.retakes, "count"),
            "harness.unclean_ops": (self.gate.unclean, "count"),
            "harness.error_rate": (len(self.failures) / self.attempted, "ratio"),
        }
        self.layer_report = {layer: per_op[layer] / n_ops for layer in OP_LAYERS}
        self.layer_report["(untraced gap)"] = gap / n_ops
        return m

    def write_record(self, path: str, metrics: dict):
        """The run's ops, set-up, failures, metrics and (traced) spans."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        record = {
            "workload": self.wl.name,
            "rounds": self.rounds,
            "setup": self.setup,
            "settle_s": self.settle_s,
            "ops": self.ops_log,
            "failures": self.failures,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
        if self.tracer is not None:
            record["spans"] = [s.to_json() for s in self.tracer.spans]
        with open(path, "w") as f:
            json.dump(record, f)

    def print_layer_report(self, path: str):
        lat = sum(self.latencies) / len(self.latencies)
        print(f"{self.wl.name}: {len(self.latencies)} traced ops in {self.rounds} rounds, "
              f"mean op latency {lat:.4f} s")
        print(f"  {'layer':<16} {'self s/op':>10} {'share':>7}")
        for layer, v in self.layer_report.items():
            print(f"  {layer:<16} {v:>10.4f} {100 * v / lat:>6.1f}%")
        print(f"  self times + gaps vs op latency: off by {self.closure:.2e} s in total")
        print(f"  tracing overhead vs untraced twins (plan calls excluded): "
              f"{self.overhead_pct:+.2f}%")
        print(f"  spans: {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # fail before any work where the package is absent
    import eland_spark  # noqa: F401

    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    data_dir = datagen.ensure_tables(
        os.path.join(work, "data"), args.sf or cls.sf, DATA_SEED
    )
    # a private scratch dir per process: Spark locals, temp files, ingest outputs
    scratch = os.path.join(work, "scratch", str(os.getpid()))
    engine = Engine(scratch)
    try:
        wl = cls(data_dir, scratch)
        run = Run(engine, wl, np.random.default_rng(args.seed), bool(args.trace))
        run.set_up()
        run.settle()
        run.timed_loop(args.seconds)
        metrics = run.per_layer() if args.trace else run.end_to_end()
    finally:
        engine.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    path = os.path.join(work, "runs", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    run.write_record(path, metrics)
    if args.trace:
        run.print_layer_report(path)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
