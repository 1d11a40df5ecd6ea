"""Parse `df.explain` output into checkable facts.

Used by tests to pin the scale-critical plan properties (predicate
pushdown, column pruning, broadcast joins, shuffle counts) so a
refactor that silently degrades the plan fails CI, not the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters the parquet source accepted for row-group pruning."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column sets each scan actually reads (column pruning check):
    one list per scan node."""
    text = explain_str(df)
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        body = m.group(1)
        scans.append([p.split(":")[0].strip() for p in body.split(",") if p.strip()])
    return scans


def shuffle_count(df: DataFrame) -> int:
    """Shuffle Exchange nodes in the plan — each repartitions its whole
    input. Counts unique node ids from the formatted detail section, so
    the tree header line isn't double-counted; BroadcastExchange is
    excluded (that's a broadcast, not a shuffle)."""
    return len(set(re.findall(r"\((\d+)\) Exchange\b", explain_str(df))))


def broadcast_join_count(df: DataFrame) -> int:
    return len(
        set(
            re.findall(
                r"\((\d+)\) (?:BroadcastHashJoin|BroadcastNestedLoopJoin)",
                explain_str(df),
            )
        )
    )


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen spans — wider is better (fewer interpreter
    boundaries). Formatted explain tags member operators with
    ``[codegen id : N]``; simple mode uses ``WholeStageCodegen (N)``."""
    text = explain_str(df)
    ids = set(re.findall(r"codegen id : (\d+)", text))
    ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", text))
    return len(ids)


def plan_summary(df: DataFrame) -> dict:
    """One-call dashboard of the scale-critical plan facts."""
    return {
        "pushed_filters": pushed_filters(df),
        "read_schema": read_schema_columns(df),
        "shuffles": shuffle_count(df),
        "broadcast_joins": broadcast_join_count(df),
        "codegen_stages": codegen_stage_count(df),
    }


# (rule, severity, plan-text regex, what it means at scale)
_LINT_RULES = [
    (
        "cartesian-product",
        "error",
        r"CartesianProduct",
        "all-pairs join: cost is |left| x |right|; add an equi-join key, "
        "broadcast the small side, or block/bucket the candidates",
    ),
    (
        "nested-loop-join",
        "warn",
        r"BroadcastNestedLoopJoin",
        "non-equi join re-scans the broadcast side per row; fine for a "
        "bounded small side, quadratic otherwise — consider a range/band "
        "bucketing rewrite",
    ),
    # single-partition exchanges are handled separately in lint_plan:
    # one fed by a partial aggregate moves O(partitions) pre-aggregated
    # rows (the normal global-agg final step); one fed by anything else
    # moves the DATA through one task (the global-window/sort cliff)
    (
        "python-row-udf",
        "error",
        r"BatchEvalPython",
        "row-at-a-time Python UDF: ~10-100x slower than Arrow; use "
        "pandas_udf / mapInPandas or a builtin expression",
    ),
    (
        "python-arrow-udf",
        "info",
        r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
        "Arrow-batched Python stage: vectorized, but still leaves "
        "whole-stage codegen — keep it off the hot path if a builtin "
        "expression exists",
    ),
    (
        "unkeyed-repartition",
        "info",
        r"RoundRobinPartitioning",
        "round-robin repartition spreads data but co-locates nothing; "
        "repartition by the downstream grouping key to let the next "
        "aggregation reuse the exchange",
    ),
]


def _raw_single_partition_count(text: str) -> int:
    """SinglePartition exchanges whose INPUT is not a partial
    aggregate. A global aggregation's final step legitimately sends
    O(partitions) partial-agg rows through one task; anything else
    (global window, global sort) sends the data itself — the cliff.

    Works off the formatted explain: the tree section gives each
    Exchange's child node id; the detail section says whether that
    exchange is SinglePartition and whether the child's aggregate
    functions are partial_*."""
    # child of each Exchange from the tree ASCII: the next tree line
    # one level deeper starts with the child node
    tree_children: dict[str, str] = {}
    lines = text.splitlines()
    for i, line in enumerate(lines):
        m = re.search(r"[+*]- Exchange \((\d+)\)", line)
        if m is None:
            m = re.match(r"^\s*Exchange \((\d+)\)", line)
        if m and i + 1 < len(lines):
            cm = re.search(r"(\w[\w ]*?) \((\d+)\)\s*$", lines[i + 1])
            if cm:
                tree_children[m.group(1)] = cm.group(2)
    n = 0
    for ex_id, child_id in tree_children.items():
        detail = re.search(
            rf"\({ex_id}\) Exchange\s*\n(?:.*\n)*?Arguments: ([^\n]*)", text
        )
        if not detail or "SinglePartition" not in detail.group(1):
            continue
        child = re.search(
            rf"\({child_id}\) \w*(?:Hash|Sort|Object)?Aggregate[^\n]*\n(?:(?!\n\().*\n)*",
            text,
        )
        if child and "partial_" in child.group(0):
            continue  # partial-agg rows, not raw data
        n += 1
    return n


def lint_plan(df: DataFrame) -> list[dict]:
    """Static scale-hazard scan of the physical plan.

    Returns one finding per matched rule: ``{"rule", "severity",
    "count", "advice"}``, severities ``error`` (will not survive a
    100x scale-up), ``warn`` (survives only under documented bounds),
    ``info`` (worth knowing). An empty list is the clean bill. The
    un-pushed-filter case is reported separately: a scan with
    ``PushedFilters: []`` beneath a Filter node means rows are decoded
    before being dropped.
    """
    text = explain_str(df)
    findings = []
    for rule, sev, pat, advice in _LINT_RULES:
        n = len(re.findall(pat, text))
        if n:
            findings.append(
                {"rule": rule, "severity": sev, "count": n, "advice": advice}
            )
    n_cliff = _raw_single_partition_count(text)
    if n_cliff:
        findings.append(
            {
                "rule": "single-partition-exchange",
                "severity": "error",
                "count": n_cliff,
                "advice": "raw rows funnel through ONE task (global "
                "window/sort without PARTITION BY?); use the range-sort + "
                "offset pattern (operators/ranking.py) or a keyed window",
            }
        )
    if re.search(r"PushedFilters: \[\]", text) and re.search(
        r"\(\d+\) Filter", text
    ):
        findings.append(
            {
                "rule": "filter-not-pushed",
                "severity": "warn",
                "count": len(re.findall(r"PushedFilters: \[\]", text)),
                "advice": "a Filter sits above a scan that pushed nothing: "
                "the predicate may be over a derived column — filter on "
                "stored columns first so parquet row groups are skipped",
            }
        )
    return findings

def runtime_metrics(df: DataFrame) -> list[dict]:
    """POST-execution observability: walk the executed physical plan
    and return each node's SQL metrics (output rows, spilled bytes,
    peak memory, shuffle bytes ...) as
    ``{"node", "depth", "metrics": {name: value}}`` rows in pre-order.

    The static pins (shuffle_count, lint_plan) decide whether a plan
    CAN scale; this reports what it actually DID — the two together
    are the perf-debugging loop: run at a small SF, read spill/row
    metrics, fix, re-pin. Call after an action (collect/count/write);
    unexecuted AQE stages simply contribute no metric values."""
    out: list[dict] = []

    def walk(node, depth):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        out.append(
            {"node": node.nodeName(), "depth": depth, "metrics": vals}
        )
        # AQE / query-stage wrappers hide their executed subtree behind
        # accessors rather than children()
        for accessor in ("executedPlan", "plan"):
            try:
                child = getattr(node, accessor)()
                walk(child, depth + 1)
                break
            except Exception:
                continue
        else:
            it = node.children().iterator()
            while it.hasNext():
                walk(it.next(), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out


def metric_total(df: DataFrame, metric: str, node: str | None = None) -> int:
    """Sum a named runtime metric across the executed plan (optionally
    only over nodes whose name contains ``node``) — e.g.
    ``metric_total(df, "spilled")`` as a no-spill assertion, or
    ``metric_total(df, "numOutputRows", "Scan")`` for rows actually
    decoded by scans (column/row-group pruning's runtime twin)."""
    total = 0
    for row in runtime_metrics(df):
        if node is not None and node not in row["node"]:
            continue
        for name, value in row["metrics"].items():
            if metric.lower() in name.lower() and value > 0:
                total += value
    return total


def codegen_stats(spark) -> dict:
    """JVM-wide Janino compile totals since the JVM started:
    ``{"compiles", "compile_ms"}``. ``compiles`` counts every generated
    class Spark compiled (Spark's ``CodegenMetrics`` compilation-time
    histogram); ``compile_ms`` is the time spent compiling them
    (``CodeGenerator.compileTime``). A cache hit compiles nothing, so
    the difference of two readings around a query is the number of
    classes it had to (re)compile. A repeated query that compiles
    again either lost its classes to cache eviction
    (``spark.sql.codegen.cache.maxEntries``, set by ``get_session``) or
    generates code that differs from run to run."""
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return {"compiles": int(hist.getCount()), "compile_ms": nanos / 1e6}
