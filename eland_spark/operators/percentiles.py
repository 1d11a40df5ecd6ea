"""Distributed exact order statistics.

Spark's exact ``percentile`` aggregate materializes a value->count
OpenHashMap per partition and merges them on one reducer — fine for
low-cardinality columns, pathological for near-unique ones (the map is
the column). This operator computes exact interpolated percentiles the
scalable way: range-partition sort + per-partition offsets + a global
rank filter. Everything heavy stays codegen'd and parallel; only the
``len(ps) * 2`` boundary rows and the 1-row-per-partition count table
ever reach the driver. Global ranks come from the shared rank pass
(``ranking._rank_pass``): the bit layout of
``monotonically_increasing_id`` on the sorted frame (pid << 33 | pos)
— no window node at all.

At 100 TB: one range shuffle of the (single) column, then pure maps —
no single-reducer merge, no driver-size state. Interpolation matches pandas/DuckDB/Spark ``percentile``
(linear, pos = p*(n-1)).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranking import _rank_pass

__all__ = ["exact_percentiles", "weighted_quantiles"]


def exact_percentiles(
    sdf: DataFrame, col: str | Column, ps: list[float], partitions: int | None = None
) -> list[float]:
    """Exact linear-interpolated percentiles of a numeric column.

    Returns one float per p in ``ps`` (NaN-free: nulls are dropped
    first; returns [] values as ``float('nan')`` when the column is
    empty). The global ranks come from the shared rank pass
    (:func:`ranking._rank_pass`); its cache pin is released here."""
    c = F.col(col) if isinstance(col, str) else col
    vals = sdf.select(c.cast("double").alias("v")).filter(F.col("v").isNotNull())
    src, _pid, _stats, _off, n, rank = _rank_pass(vals, ["v"], partitions)
    try:
        if not n:
            return [float("nan")] * len(ps)
        # 1-based global ranks needed: floor/ceil of p*(n-1), plus one
        want: set[int] = set()
        pos = []
        for p in ps:
            x = p * (n - 1)
            lo, hi = int(x), min(int(x) + 1, n - 1)
            pos.append((x, lo, hi))
            want.update((lo + 1, hi + 1))
        rows = (
            src.select(rank.alias("__rank__"), "v")
            .filter(F.col("__rank__").isin(list(want)))
            .collect()
        )
        by_rank = {r["__rank__"] - 1: r["v"] for r in rows}
        out = []
        for x, lo, hi in pos:
            vlo, vhi = by_rank[lo], by_rank[hi]
            out.append(vlo + (x - lo) * (vhi - vlo))
        return out
    finally:
        src.unpersist()


def weighted_quantiles(
    sdf,
    value_col: str,
    weight_col: str,
    qs: "list[float]",
    group_cols: "list[str] | None" = None,
):
    """Per-group WEIGHTED quantiles, lower-value definition: the
    smallest value whose cumulative weight (values ascending) reaches
    ``q * total_weight`` — the estimator for "the token-weighted
    median document length" class of corpus statistics, where each
    row's influence is its size, not its count. No interpolation: the
    result is always an observed value, deterministic, and exactly
    replayable in SQL. Null values/weights and non-positive weights
    drop; a group with no surviving rows yields no output rows.

    Scale shape: one hash agg to per-(group, distinct value) weight
    sums, cumulative + total weights on ONE keyed window exchange
    (distinct-value-sized), then one conditional-min agg per quantile
    back to group grain. The cumulative sum runs in value order —
    a DETERMINISTIC float sequence, so fractional weights are safe
    cross-engine up to the documented ulp rule (integer weights are
    exact).

    Returns (group..., q, wq) with one row per group per quantile.
    """
    from pyspark.sql import Window

    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile {q} outside (0, 1]")
    groups = list(group_cols or [])
    base = sdf.where(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    )
    per_val = base.groupBy(*groups, value_col).agg(
        F.sum(weight_col).alias("__w__")
    )
    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
        F.col(value_col).asc()
    )
    staged = per_val.select(
        *groups,
        value_col,
        F.sum("__w__")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__cw__"),
        F.sum("__w__")
        .over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__tw__"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("__cw__") >= F.lit(q) * F.col("__tw__"),
                F.col(value_col),
            )
        ).alias(f"__q{i}__")
        for i, q in enumerate(qs)
    ]
    wide = staged.groupBy(*groups).agg(*aggs)
    stack = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"), F.col(f"__q{i}__").alias("wq")
                )
                for i, q in enumerate(qs)
            ]
        )
    )
    return wide.select(*groups, stack.alias("__e__")).select(
        *groups, F.col("__e__.q").alias("q"), F.col("__e__.wq").alias("wq")
    )
