"""Event-sequence analytics: ordered funnels and cohort retention.

No reference analog (eland stops at date_histogram buckets); these are
the two workhorse event-table reports every product/behavioral
pipeline runs, re-expressed Spark-first.

``funnel`` computes the classic greedy ordered funnel — the earliest
step-1 event, then the earliest step-2 event at-or-after it, and so on
— in ONE shuffle: events are grouped per user, time-sorted, and the
step chain is folded with ``F.aggregate`` entirely inside codegen (no
Python, no per-step join round). The greedy chain over a time-sorted
list is equivalent to the sequential min-chain
``t_i = min(ts of step_i events with ts >= t_{i-1})``, which is what a
SQL engine replays with k chained CTEs — ties between different steps
at the same timestamp are resolved in step order so both formulations
agree exactly. ``funnel_chains`` exposes the per-user step timestamps
the summary is built from (and is the batch twin of the streaming
``funnel_with_state``).

``cohort_retention`` buckets each user into the cohort of their first
event and counts distinct active users per (cohort, periods-since) —
two hash aggregations, everything partial-aggregable.

Scale: both operators shuffle on ``user_id`` once (funnel's per-user
state is the user's own event list — bounded by per-user activity,
never corpus-sized); the fold state is k timestamps. For logs with
BOT-GRADE hot users (a single user with millions of step-typed events
would materialize a multi-MB array in one aggregation buffer),
``skew_safe=True`` selects the k-chained-min-agg plan instead: step 1
is a per-user min agg, and each later step is one hash join (user key)
plus one min agg over "step-i events at-or-after the chain's previous
timestamp" — O(1) state per user per round, k aggregations and k-1
user-keyed joins total, identical chains (the greedy fold over a
time-sorted list IS the sequential min-chain; see ``_fold_chains``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._literals import array_lit

__all__ = ["funnel", "funnel_chains", "cohort_retention"]


def _fold_chains(
    events: DataFrame,
    steps: "list[str]",
    user_col: str,
    type_col: str,
    ts_col: str,
    within_seconds: "int | None",
) -> DataFrame:
    """Per-user greedy chain fold -> ``(__u__, __c__)`` where ``__c__``
    is a k-array of epoch-micro step timestamps (non-null prefix)."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    k = len(steps)
    steps_lit = array_lit(steps, "string")

    ev = events.select(
        F.col(user_col).alias("__u__"),
        F.col(type_col).alias("__t__"),
        F.col(ts_col).cast("timestamp_ntz").alias("__ts__"),
    ).where(F.col("__t__").isin(list(set(steps))) & F.col("__ts__").isNotNull())

    # (ts, step-rank) sort key: ties at one timestamp resolve in step
    # order so the greedy fold equals the sequential min-chain exactly.
    # NTZ rejects a direct long cast; the session pins UTC so the
    # ntz->ltz cast is stable (frame.py:1715 uses the same path).
    # Micros, not millis: an external engine replaying the min-chain at
    # full parquet precision must see identical orderings.
    item = F.struct(
        F.unix_micros(F.col("__ts__").cast("timestamp")).alias("ts"),
        F.array_position(steps_lit, F.col("__t__")).alias("rank"),
        F.col("__t__").alias("t"),
    )
    per_user = ev.groupBy("__u__").agg(
        F.sort_array(F.collect_list(item)).alias("__evs__")
    )

    init = array_lit([None] * k, "bigint")

    def step_fold(acc, x):
        # n = how many steps already matched (prefix of non-nulls)
        n = F.size(F.filter(acc, lambda a: a.isNotNull()))
        need = F.element_at(steps_lit, (n + 1).cast("int"))
        hit = (n < k) & (x["t"] == need)
        return F.when(
            hit,
            F.transform(
                acc,
                lambda a, i: F.when(i == n, x["ts"]).otherwise(a),
            ),
        ).otherwise(acc)

    chains = per_user.select(
        "__u__",
        F.aggregate(F.col("__evs__"), init, step_fold).alias("__c__"),
    )
    return _within_gate(chains, within_seconds)


def _within_gate(chains: DataFrame, within_seconds: "int | None") -> DataFrame:
    """Null out chain slots more than ``within_seconds`` after slot 1
    (shared by both chain builders; ts monotone along the chain, so
    nulled slots stay a suffix)."""
    if within_seconds is None:
        return chains
    w = int(within_seconds) * 1_000_000
    return chains.select(
        "__u__",
        F.transform(
            F.col("__c__"),
            lambda t, i: F.when(
                t.isNotNull()
                & ((t - F.element_at(F.col("__c__"), 1)) <= F.lit(w)),
                t,
            ),
        ).alias("__c__"),
    )


def _chained_min_chains(
    events: DataFrame,
    steps: "list[str]",
    user_col: str,
    type_col: str,
    ts_col: str,
    within_seconds: "int | None",
) -> DataFrame:
    """Skew-safe chain builder: the sequential min-chain computed as k
    hash aggregations + k-1 user-keyed joins — per-user state is O(1)
    per round (one running min), never the user's event list, so a
    bot-grade hot user costs nothing beyond its share of scan rows.

    Exactly equal to the fold for DISTINCT step types: the fold scans
    (ts, step-rank)-sorted events, so after matching step i-1 at
    ``t``, a step-i event qualifies iff its ts >= t (equal-ts events
    sort by step rank, and rank_i > rank_{i-1} whenever steps are
    distinct). Repeated step names need multiset consumption that a
    min-agg cannot express — those route to the fold."""
    if len(set(steps)) != len(steps):
        raise ValueError(
            "skew_safe funnel requires distinct step types "
            "(repeated steps consume one event each — use the fold path)"
        )
    k = len(steps)
    ev = events.select(
        F.col(user_col).alias("__u__"),
        F.col(type_col).alias("__t__"),
        F.unix_micros(
            F.col(ts_col).cast("timestamp_ntz").cast("timestamp")
        ).alias("__tsus__"),
    ).where(
        F.col("__t__").isin(list(set(steps))) & F.col("__tsus__").isNotNull()
    )
    chains = (
        ev.where(F.col("__t__") == steps[0])
        .groupBy("__u__")
        .agg(F.min("__tsus__").alias("__c0__"))
    )
    for i in range(1, k):
        # chains is consumed twice per round (the step-i candidate
        # filter and the left join back); a lazy localCheckpoint
        # truncates the lineage so each round's user-sized table is
        # computed once — without it the events scan count doubles per
        # round (the same 2^K recompute blowup operators/graph.py's
        # pagerank rounds hit, fixed the same way)
        chains = chains.localCheckpoint(eager=False)
        nxt = (
            ev.where(F.col("__t__") == steps[i])
            .join(chains.select("__u__", f"__c{i-1}__"), "__u__")
            .where(F.col("__tsus__") >= F.col(f"__c{i-1}__"))
            .groupBy("__u__")
            .agg(F.min("__tsus__").alias(f"__c{i}__"))
        )
        chains = chains.join(nxt, "__u__", "left")
    arr = F.array(*[F.col(f"__c{i}__") for i in range(k)])
    return _within_gate(chains.select("__u__", arr.alias("__c__")),
                        within_seconds)


def funnel_chains(
    events: DataFrame,
    steps: "list[str]",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: "int | None" = None,
    skew_safe: bool = False,
) -> DataFrame:
    """Per-user step completions: one row per (user, completed step)
    with the step's chain timestamp — ``(user_id, step_index, step,
    step_ts)``. The long-format twin of :func:`funnel` (same single
    user shuffle + fold), and the batch reference for the streaming
    ``funnel_with_state`` operator. ``skew_safe=True`` swaps the fold
    for the bounded-state k-chained-min-agg plan (identical chains;
    distinct step types required — see :func:`_chained_min_chains`)."""
    steps_lit = array_lit(steps, "string")
    builder = _chained_min_chains if skew_safe else _fold_chains
    chains = builder(events, steps, user_col, type_col, ts_col,
                     within_seconds)
    return (
        chains.select(
            F.col("__u__").alias(user_col),
            F.posexplode(F.col("__c__")).alias("__i__", "__tus__"),
        )
        .where(F.col("__tus__").isNotNull())
        .select(
            user_col,
            (F.col("__i__") + 1).alias("step_index"),
            F.element_at(steps_lit, (F.col("__i__") + 1).cast("int"))
            .alias("step"),
            F.timestamp_micros(F.col("__tus__"))
            .cast("timestamp_ntz")
            .alias("step_ts"),
        )
    )


def funnel(
    events: DataFrame,
    steps: "list[str]",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: "int | None" = None,
    skew_safe: bool = False,
) -> DataFrame:
    """Greedy ordered-funnel summary.

    Returns one row per step: ``(step_index, step, n_users,
    conversion)`` where ``n_users`` counts users whose chain reached
    the step (and, with ``within_seconds``, whose step time falls
    within that window of their step-1 time) and ``conversion`` is
    ``n_users / step-1 users`` rounded to 6.

    Repeated step names are allowed (``["view", "view"]`` means two
    views); each list element consumes a distinct event.
    ``skew_safe=True`` swaps the per-user fold for the bounded-state
    k-chained-min-agg plan — identical results for distinct step
    types, O(1) agg-buffer state per user even under bot-grade skew.
    """
    k = len(steps)
    builder = _chained_min_chains if skew_safe else _fold_chains
    chains = builder(events, steps, user_col, type_col, ts_col,
                     within_seconds).select("__c__")

    # ONE tiny aggregation carries every step's reach count (count of
    # non-null chain slots), so the base count shares the row and the
    # event pipeline runs exactly once — no join-back, no recompute
    one = chains.agg(
        *[
            F.count(F.element_at(F.col("__c__"), i + 1)).alias(f"__s{i}__")
            for i in range(k)
        ]
    )
    rows = [
        F.struct(
            F.lit(i + 1).alias("step_index"),
            F.lit(steps[i]).alias("step"),
            F.col(f"__s{i}__").alias("n_users"),
            F.round(
                F.when(
                    F.col("__s0__") > 0, F.col(f"__s{i}__") / F.col("__s0__")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("conversion"),
        )
        for i in range(k)
    ]
    return one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Cohort retention triangle: users bucket into the cohort of
    their FIRST event (floor of epoch seconds / period), and each
    (cohort, periods-since-cohort) cell counts distinct active users.

    Two hash aggregations (per-user first-event, then per-cell distinct
    users — the distinct collapses map-side since a user contributes
    one row per active period); output is cohort x period sized.
    Returns ``(cohort_start, period_number, n_active)``.
    """
    step_us = int(period_seconds) * 1_000_000
    ep = F.unix_micros(F.col(ts_col).cast("timestamp_ntz").cast("timestamp"))
    # exact long arithmetic (a double division could flip floor at a
    # period boundary); numerator is a multiple of step_us so the final
    # division is exact
    ev = events.select(
        F.col(user_col).alias("__u__"),
        ((ep - (ep % step_us)) / step_us).cast("long").alias("__p__"),
    ).where(F.col("__p__").isNotNull())
    first = ev.groupBy("__u__").agg(F.min("__p__").alias("__c__"))
    cells = (
        ev.join(first, "__u__")
        .select("__u__", "__c__", (F.col("__p__") - F.col("__c__")).alias("__d__"))
        .distinct()
        .groupBy("__c__", "__d__")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return cells.select(
        F.timestamp_seconds(F.col("__c__") * int(period_seconds))
        .cast("timestamp_ntz")
        .alias("cohort_start"),
        F.col("__d__").cast("bigint").alias("period_number"),
        "n_active",
    )
