"""Measurement machinery shared by the workloads.

- :class:`Engine` launches the package's Spark session with pinned
  resources and stops it, JVM included.
- :func:`read_steal` / :class:`StealGate` time one op and retake it
  while hypervisor steal spoils its window.
- :class:`Tracer` records one span per call into a layer, tags each
  call with its own Spark job group, and reads the job, stage, task,
  shuffle and spill counts of that group from Spark's status store.
"""

from __future__ import annotations

import gc
import itertools
import os
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass, field

# per-op window steal share above which the op is retaken
STEAL_THRESHOLD = 0.02
MAX_RETAKES = 2
DRIVER_MEMORY = "3g"
# what Tracer.collect_counts reads per job group
COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")


class Engine:
    """One Spark session at a time, owned by the benchmark.

    Resources are pinned through ``get_session``'s arguments only:
    ``local[nproc]``, ``nproc`` shuffle partitions, a 3 GiB driver heap
    and every Spark scratch file under ``work_dir``."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None
        self._proc: subprocess.Popen | None = None
        for sub in ("spark", "tmp", "warehouse"):
            path = os.path.join(work_dir, sub)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
        # SPARK_LOCAL_DIRS overrides spark.local.dir in local mode
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")

    def start(self):
        import eland_spark as es

        n = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work_dir, "tmp")
        self.spark = es.get_session(
            "perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work_dir, "spark"),
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        if self._proc is None:
            from pyspark import SparkContext

            self._proc = SparkContext._gateway.proc
        return self.spark

    def restart(self):
        """A fresh SparkContext on the running JVM."""
        self.spark.stop()
        return self.start()

    def gc_seconds(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def persistent_rdds(self) -> int:
        """RDDs still pinned once both sides have collected garbage (the
        JVM keeps them in a weak map, so an uncollected count varies)."""
        gc.collect()
        sc = self.spark.sparkContext
        sc._jvm.System.gc()
        return sc._jsc.getPersistentRDDs().size()

    def stop(self):
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            # Python workers the JVM forked exit once it is gone
            workers = _descendants(self._proc.pid)
            # the JVM exits when the pipe on its stdin closes
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
            self._proc = None
            deadline = time.monotonic() + 10
            for pid in workers:
                while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                    time.sleep(0.05)
                if os.path.exists(f"/proc/{pid}"):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass


def _descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.append(child)
            todo.append(child)
    return found


def read_steal() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot; (0, 0)
    where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0, 0
    ticks = [int(x) for x in fields[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    steal = ticks[7] if len(ticks) > 7 else 0
    return steal, sum(ticks[:8])


@dataclass
class StealGate:
    """Retake an op while steal exceeds ``threshold`` of its window.

    An op that never gets a clean window keeps its last attempt and is
    counted in ``unclean``; it is never dropped."""

    threshold: float = STEAL_THRESHOLD
    max_retakes: int = MAX_RETAKES
    retakes: int = 0
    unclean: int = 0
    steal: int = 0
    total: int = 0

    def run(self, fn):
        """Run ``fn()`` until its window is clean; return
        (result, latency_s) of the kept attempt. Exceptions propagate."""
        for attempt in range(self.max_retakes + 1):
            s0, t0 = read_steal()
            start = time.perf_counter()
            result = fn()
            latency = time.perf_counter() - start
            s1, t1 = read_steal()
            self.steal += s1 - s0
            self.total += t1 - t0
            if t1 == t0 or (s1 - s0) / (t1 - t0) <= self.threshold:
                return result, latency
            if attempt < self.max_retakes:
                self.retakes += 1
        self.unclean += 1
        return result, latency

    @property
    def steal_pct(self) -> float:
        return 100.0 * self.steal / self.total if self.total else 0.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    counts: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "id": self.span_id, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "op": self.op_id,
            **({"counts": self.counts} if self.counts else {}),
        }


def direct_call(layer, fn, *args, **kwargs):
    """The untraced layer boundary: just the call."""
    return fn(*args, **kwargs)


class Tracer:
    """Spans kept in memory, one per layer call, under one op span.

    Each layer call runs under its own job group so the jobs it fires
    can be read back from the status store after the op."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._op: Span | None = None
        self._op_spans: list[Span] = []
        self._groups: list[tuple[Span, str]] = []

    def begin_op(self, op_id: int, name: str):
        self._op = Span(next(self._ids), name, time.perf_counter(), 0.0, None, op_id)
        self._op_spans = [self._op]
        self._groups = []

    def end_op(self):
        self._op.end = time.perf_counter()

    def keep_op(self) -> Span:
        """Keep the spans of the attempt the steal gate accepted; return
        its op span."""
        self.spans.extend(self._op_spans)
        return self._op

    def call(self, layer, fn, *args, **kwargs):
        span = Span(next(self._ids), layer, 0.0, 0.0, self._op.span_id, self._op.op_id)
        group = f"perfbench-{span.span_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, layer)
        try:
            span.start = time.perf_counter()
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            sc._jsc.clearJobGroup()
            self._op_spans.append(span)
            self._groups.append((span, group))

    def collect_counts(self):
        """Attach job/stage/task/shuffle/spill counts to the last op's
        layer spans (call after the op, outside its timed window)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for span, group in self._groups:
            c = dict.fromkeys(COUNTS, 0)
            for jid in tracker.getJobIdsForGroup(group):
                c["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            span.counts = c


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    return {s.span_id: (s.end - s.start) - child_time.get(s.span_id, 0.0) for s in spans}
