"""Dense-calendar time-series operators: bucket + gap-fill.

The reference exposes only date_histogram-style DOWNSAMPLING
(eland/query.py:195-211 — buckets that exist in the data); real
time-series work also needs the buckets that DON'T (dashboards,
training-window alignment, rate computations). This is TimescaleDB's
``time_bucket_gapfill`` / pandas ``resample().asfreq()`` re-expressed
Spark-first:

- one hash aggregation to the bucket grain (map-side combinable),
- per-series bucket SPANS from the same aggregation (min/max — no
  second scan of the raw data),
- the dense calendar generated WITHIN the engine by
  ``explode(sequence(min, max, interval))`` — the calendar is
  O(span/step) rows per series, never materialized on the driver,
- one left join of calendar onto aggregates (hash join on the
  (series, bucket) key),
- optional LOCF fill as a keyed running window (one exchange shared
  with the join's partitioning; frame is unbounded-preceding only —
  never the O(n^2) unbounded-following shape).

At 100 TB the raw scan dominates and happens exactly once; everything
after the first aggregation is bucket-cardinality data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .._literals import array_lit


def time_bucket(ts: Column, step_seconds: int) -> Column:
    """Epoch-aligned fixed-width bucket (left edge) of a timestamp —
    timestampdiff arithmetic, NTZ-safe (no tz shift in UTC sessions;
    same shape as frame.resample's fixed-width path)."""
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    off = (
        F.floor(F.timestamp_diff("SECOND", epoch, ts) / step_seconds)
        * step_seconds
    )
    return F.timestamp_add("SECOND", off.cast("long"), epoch)


def time_bucket_gapfill(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    by: list[str] | None = None,
    agg: str = "avg",
    fill: str = "null",
) -> DataFrame:
    """Aggregate ``value_col`` to ``step_seconds`` buckets and emit a
    DENSE calendar per ``by``-series (every bucket between that
    series' first and last observation), filling the empty buckets.

    ``agg``: avg | sum | min | max | count.
    ``fill``: ``'null'`` (empty buckets keep null), ``'zero'``,
    ``'locf'`` (last observation carried forward; leading gaps stay
    null), or ``'interp'`` (linear interpolation between the
    surrounding VALUES, pandas ``interpolate(limit_direction=
    'forward')`` semantics: interior gaps lerp, gaps after the last
    value hold it, gaps before the first stay null — edge gaps exist
    when a span-edge bucket holds only null-valued observations).
    Returns (by..., bucket, <value_col>).

    The interp fill needs both neighbors: the FORWARD scan is a keyed
    running unbounded-PRECEDING window, and the BACKWARD scan is a
    DESC ordering with the same running frame — never an
    unbounded-FOLLOWING frame, which Spark evaluates by rescanning the
    partition remainder per row (O(n^2); measured 16x on interpolate).
    Both windows share the series-key partitioning (one exchange).
    """
    if fill not in ("null", "zero", "locf", "interp"):
        raise ValueError("fill must be 'null', 'zero', 'locf', or 'interp'")
    aggs = {
        "avg": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": lambda c: F.count(c),
    }
    if agg not in aggs:
        raise ValueError(f"unsupported agg {agg!r}")
    by = list(by or [])
    bucket = time_bucket(F.col(ts_col), step_seconds).alias("bucket")

    dense = (
        sdf.select(*by, bucket, F.col(value_col))
        .groupBy(*by, "bucket")
        .agg(aggs[agg](F.col(value_col)).alias("__v__"))
    )
    # per-series span from the BUCKET table (bucket-cardinality, not
    # raw-data cardinality); the calendar explodes engine-side
    spans = dense.groupBy(*by).agg(
        F.min("bucket").alias("__lo__"), F.max("bucket").alias("__hi__")
    )
    cal = spans.select(
        *by,
        F.explode(
            F.sequence(
                F.col("__lo__"),
                F.col("__hi__"),
                F.expr(f"INTERVAL {int(step_seconds)} SECOND"),
            )
        ).alias("bucket"),
    )
    joined = cal.join(dense, [*by, "bucket"], "left")
    if fill == "zero":
        out_v = F.coalesce(F.col("__v__"), F.lit(0.0))
    elif fill == "locf":
        w = (
            Window.partitionBy(*by)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out_v = F.last("__v__", ignorenulls=True).over(w)
    elif fill == "interp":
        fwd = (
            Window.partitionBy(*by)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        bwd = (
            Window.partitionBy(*by)
            .orderBy(F.col("bucket").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        obs_b = F.when(F.col("__v__").isNotNull(), F.col("bucket"))
        pv = F.last("__v__", ignorenulls=True).over(fwd)
        pb = F.last(obs_b, ignorenulls=True).over(fwd)
        nv = F.last("__v__", ignorenulls=True).over(bwd)
        nb = F.last(obs_b, ignorenulls=True).over(bwd)
        span = F.timestamp_diff("SECOND", pb, nb).cast("double")
        frac = F.timestamp_diff("SECOND", pb, F.col("bucket")) / span
        # pandas interpolate (limit_direction='forward') semantics:
        # interior gaps lerp, gaps AFTER the last observation hold the
        # last value, gaps BEFORE the first stay null (no back-fill)
        out_v = F.when(F.col("__v__").isNotNull(), F.col("__v__")).otherwise(
            F.when(
                pv.isNotNull() & nv.isNotNull() & (span > 0),
                pv + (nv - pv) * frac,
            ).otherwise(pv)
        )
    else:
        out_v = F.col("__v__")
    return joined.select(*by, "bucket", out_v.alias(value_col))


def rolling_zscore(
    sdf: DataFrame,
    value_col: str,
    order_cols: "list[str]",
    by: "str | None" = None,
    window: int = 20,
    min_periods: int = 2,
    threshold: float = 3.0,
    round_to: "int | None" = 6,
) -> DataFrame:
    """Rolling z-score anomaly detection: score each point against the
    trailing ``window`` points that PRECEDE it (the point itself is
    excluded, so a spike can't dilute its own baseline — the standard
    streaming-monitoring convention).

    ``z = (x - mean(prev)) / stddev_samp(prev)``; a point is flagged
    when ``|z| >= threshold`` and the trailing frame has at least
    ``min_periods`` points with positive spread. ``order_cols`` must be
    a TOTAL order within each ``by`` group (pass a tiebreaker id along
    with the timestamp) or frame contents — and therefore scores — are
    nondeterministic.

    ``round_to`` rounds z BEFORE the threshold test so an external
    engine replaying the same rounding reaches the identical flag.

    Scale: one hash exchange on ``by`` (none if already partitioned),
    then a single sequential pass per partition — the rolling frame is
    O(window) state, never a self-join. With ``by=None`` the global
    order is served by the bucketed global-window plan (positions from
    with_global_rank, buckets padded with the trailing ``window`` rows
    of the previous bucket — the same shape as with_global_rolling),
    so there is NO single-partition window at any scale.
    """
    x = F.col(value_col)
    if by is not None:
        w = Window.partitionBy(by).orderBy(
            *[F.col(c) for c in order_cols]
        ).rowsBetween(-int(window), -1)
        base, pad_filter, drop_cols = sdf, None, []
    else:
        from .ranking import _bucketed_frame

        # frame spans window+1 rows (current + window lookback), so
        # pad window rows across bucket boundaries
        base, _ = _bucketed_frame(sdf, list(order_cols), int(window) + 1)
        w = (
            Window.partitionBy("__b__")
            .orderBy("__g__")
            .rowsBetween(-int(window), -1)
        )
        pad_filter = ~F.col("__pad__")
        drop_cols = ["__b__", "__pad__", "__g__"]
    mean = F.avg(x).over(w)
    sd = F.stddev_samp(x).over(w)
    n = F.count(x).over(w)
    z = F.when(
        (n >= int(min_periods)) & (sd > 0), (x - mean) / sd
    )
    if round_to is not None:
        z = F.round(z, int(round_to))
    out = base.withColumn("zscore", z).withColumn(
        "is_anomaly",
        F.coalesce(F.abs(F.col("zscore")) >= F.lit(float(threshold)),
                   F.lit(False)),
    )
    if pad_filter is not None:
        out = out.filter(pad_filter).drop(*drop_cols)
    return out


def time_weighted_avg(
    sdf: DataFrame,
    value_col: str,
    ts_col: str,
    by: "str | None" = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Time-weighted average per (series, bucket) with LOCF weighting
    (the TimescaleDB ``time_weight('LOCF')`` shape): each observation
    holds its value until the next one, so its weight is the gap to
    the successor INSIDE the bucket; the bucket's last point closes
    the integral (weight 0). A single-point bucket degenerates to the
    plain value — ``sum(v*w)/sum(w)`` falls back to ``avg(v)`` when
    the observed span is zero. Buckets are independent (no carry-in
    from the previous bucket); feed ``time_bucket_gapfill`` first if
    you need boundary-crossing LOCF.

    One keyed window (ordered by ts inside the (series, bucket)
    partition) + one hash aggregation — exactly one exchange.
    Timestamps are exact long micros end to end.
    """
    step_us = int(bucket_seconds) * 1_000_000
    ep = F.unix_micros(F.col(ts_col).cast("timestamp_ntz").cast("timestamp"))
    keys = ([F.col(by).alias("__k__")] if by is not None else [])
    base = sdf.select(
        *keys,
        (ep - (ep % step_us)).alias("__b__"),
        ep.alias("__t__"),
        F.col(value_col).cast("double").alias("__v__"),
    ).where(F.col("__t__").isNotNull() & F.col("__v__").isNotNull())
    part = (["__k__"] if by is not None else []) + ["__b__"]
    w = Window.partitionBy(*part).orderBy("__t__", "__v__")
    nxt = F.lead("__t__").over(w)
    weighted = base.select(
        *part, "__v__",
        F.coalesce((nxt - F.col("__t__")).cast("double"), F.lit(0.0))
        .alias("__w__"),
    )
    agg = weighted.groupBy(*part).agg(
        F.sum(F.col("__v__") * F.col("__w__")).alias("__num__"),
        F.sum("__w__").alias("__den__"),
        F.avg("__v__").alias("__plain__"),
    )
    out_keys = ([F.col("__k__").alias(by)] if by is not None else [])
    return agg.select(
        *out_keys,
        F.timestamp_micros(F.col("__b__")).cast("timestamp_ntz")
        .alias("bucket"),
        F.when(F.col("__den__") > 0, F.col("__num__") / F.col("__den__"))
        .otherwise(F.col("__plain__"))
        .alias("twa"),
    )


def counter_rate(
    sdf: DataFrame,
    value_col: str,
    ts_col: str,
    by: "str | None" = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Monotonic-counter increase + per-second rate per (series,
    bucket), reset-aware (the PromQL/TimescaleDB ``increase``/``rate``
    convention): per series ordered by time, each point contributes
    ``v - lag(v)``, except across a reset (``v < lag(v)``) where it
    contributes ``v`` (the counter restarted from zero). The first
    point of a SERIES contributes nothing (no predecessor), but bucket
    boundaries do not break the chain — the lag crosses them, so a
    bucket's increase measures growth since the last observation even
    when that observation landed in the previous bucket.

    One keyed window + one hash aggregation — exactly one exchange.
    """
    step_us = int(bucket_seconds) * 1_000_000
    ep = F.unix_micros(F.col(ts_col).cast("timestamp_ntz").cast("timestamp"))
    keys = ([F.col(by).alias("__k__")] if by is not None else [])
    base = sdf.select(
        *keys,
        (ep - (ep % step_us)).alias("__bk__"),
        ep.alias("__t__"),
        F.col(value_col).cast("double").alias("__v__"),
    ).where(F.col("__t__").isNotNull() & F.col("__v__").isNotNull())
    if by is not None:
        w = Window.partitionBy("__k__").orderBy("__t__", "__v__")
        prev = F.lag("__v__").over(w)
    else:
        # global series: bucketed global-window plan (positions from
        # with_global_rank, 1 padding row carried across bucket
        # boundaries) instead of the single-partition global Window
        # the lint gate forbids
        from .ranking import _bucketed_frame

        base, _ = _bucketed_frame(base, ["__t__", "__v__"], 2)
        wl = Window.partitionBy("__b__").orderBy("__g__")
        base = (
            base.withColumn("__p__", F.lag("__v__").over(wl))
            .filter(~F.col("__pad__"))
            .drop("__b__", "__pad__", "__g__")
        )
        prev = F.col("__p__")
    delta = F.when(prev.isNull(), F.lit(None)).when(
        F.col("__v__") < prev, F.col("__v__")
    ).otherwise(F.col("__v__") - prev)
    gkeys = (["__k__"] if by is not None else []) + ["__bk__"]
    # internal name: Spark 4 resolves lateral column aliases, so a
    # select computing rate from a column NAMED like its own rounded
    # sibling would silently read the rounded value
    agg = base.select(*gkeys, delta.alias("__d__")).groupBy(*gkeys).agg(
        F.coalesce(F.sum("__d__"), F.lit(0.0)).alias("__inc__")
    )
    out_keys = ([F.col("__k__").alias(by)] if by is not None else [])
    # rate derives from the ROUNDED increase: engines sum in different
    # orders, so two ulp-different sums near a decimal boundary can
    # round apart after the division; dividing the identical rounded
    # double cannot (an exact .5 tail is unrepresentable in binary)
    inc_r = F.round("__inc__", 6)
    return agg.select(
        *out_keys,
        F.timestamp_micros(F.col("__bk__")).cast("timestamp_ntz")
        .alias("bucket"),
        inc_r.alias("increase"),
        F.round(inc_r / F.lit(float(bucket_seconds)), 6)
        .alias("rate_per_sec"),
    )


def acf(
    sdf: DataFrame,
    order_by: "list[str | Column]",
    value_col: str,
    nlags: int = 10,
    partitions: "int | None" = None,
) -> DataFrame:
    """Autocorrelation function over the GLOBAL order: one row per lag
    ``k = 1..nlags`` with ``(lag, acf, n)`` — ``acf`` is pandas
    ``Series.autocorr(k)`` (Pearson of the series against its k-step
    predecessor on pairwise-complete observations), ``n`` the complete
    pair count. The seasonality/memory diagnostic before choosing a
    rolling window or a resample grain.

    ALL lags evaluate in ONE plan: one global-rank pass (windowless
    range-sort, operators/ranking), the ranked frame joined ONCE
    against a lag-exploded copy (each row emits its value at positions
    g+1..g+nlags — K x n rows, bounded by the lag budget), and one
    lag-keyed corr aggregate (k rows out). Never a single-partition
    window, never nlags separate scans.
    """
    from .ranking import with_global_rank

    if nlags < 1:
        raise ValueError("nlags must be >= 1")
    ranked = with_global_rank(
        sdf.select(
            *[c if not isinstance(c, str) else F.col(c) for c in order_by],
            F.col(value_col).cast("double").alias("__v__"),
        ),
        order_by,
        rank_col="__g__",
        partitions=partitions,
    ).select("__g__", "__v__")
    lags = array_lit(range(1, nlags + 1), "int")
    src = ranked.select(
        F.col("__v__").alias("__prev__"),
        F.explode(lags).alias("lag"),
        F.col("__g__").alias("__gs__"),
    ).select((F.col("__gs__") + F.col("lag")).alias("__g__"), "lag", "__prev__")
    j = ranked.join(src, "__g__")
    both = F.col("__v__").isNotNull() & F.col("__prev__").isNotNull()
    return j.groupBy("lag").agg(
        F.round(F.corr("__v__", "__prev__"), 6).alias("acf"),
        F.count(F.when(both, F.lit(1))).cast("bigint").alias("n"),
    )


def linear_fit(
    sdf: DataFrame,
    x_col: str,
    y_col: str,
    by: "list[str] | tuple" = (),
) -> DataFrame:
    """OLS line ``y = slope * x + intercept`` (optionally per group):
    ``(by..., slope, intercept, r2, n)`` — the trend-estimation
    primitive (TimescaleDB ``stats_agg``/PromQL ``deriv`` analog:
    x = epoch time gives units/second drift of a metric; x = any
    covariate gives the scorecard regression).

    ONE hash aggregation of Spark's builtin ``regr_*`` aggregates —
    mergeable partials, group-cardinality output, the raw table
    streams through once at any scale. Pairs with a null on either
    side are dropped (SQL-standard REGR_* semantics, which DuckDB
    shares); ``slope``/``r2`` are null when x is constant, ``n`` is
    the complete-pair count.
    """
    by = list(by)
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    aggs = [
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.regr_r2(y, x).alias("r2"),
        F.regr_count(y, x).cast("bigint").alias("n"),
    ]
    if by:
        return sdf.groupBy(*by).agg(*aggs)
    return sdf.agg(*aggs)


def seasonal_decompose(
    sdf: DataFrame,
    order_by: "list[str | Column]",
    value_col: str,
    period: int,
    partitions: "int | None" = None,
) -> DataFrame:
    """Classical additive seasonal decomposition over the global order
    (statsmodels ``seasonal_decompose(model='additive')`` semantics):
    ``value = trend + seasonal + resid``, returned as the order
    columns + ``value/trend/seasonal/resid``.

    - ``trend``: centered moving average — window ``period`` for odd
      periods; the standard 2x-MA (half weights on the two ends,
      window ``period + 1``) for even periods. Null at the edges
      (full-window gate) and wherever the window has any null.
    - ``seasonal``: per-phase mean of the detrended series
      (``phase = (position - 1) % period``), centered by the
      unweighted mean of the phase means — constant per phase.
    - ``resid``: ``value - trend - seasonal``.

    Scale shape: one windowless global-rank pass, the trailing MA on
    the bucketed padded plan (one balanced exchange; the even case
    stacks a width-2 pass), the centering realignment via the dense
    position self-join, a period-sized phase aggregate broadcast back
    — never a single-partition window, never row data on the driver.
    """
    from .ranking import (
        _ranked_total,
        with_global_rank,
        with_global_rolling,
        with_global_shift,
    )

    if period < 2:
        raise ValueError("period must be >= 2")
    if not all(isinstance(c, str) for c in order_by):
        raise ValueError("order_by must be column names")
    h = period // 2
    base = sdf.select(
        *[F.col(c) for c in order_by],
        F.col(value_col).cast("double").alias("__v__"),
    )
    # positions in a caller-owned column: the rolling/shift operators
    # create and DROP their own internal "__g__", so "__pos__" rides
    # through them untouched
    ranked = with_global_rank(
        base, order_by, rank_col="__pos__", partitions=partitions
    )
    # "__pos__" is already a dense 1-based global position, and the
    # rank pass stashed the row count — the rolling/shift passes below
    # take the dense fast path instead of each re-running a full rank
    # pass (range shuffle + sampling job + count collect, 2 job waves
    # apiece) over positions they could read off the column
    n_rows = _ranked_total(ranked)
    # trailing MA, full-window gate; min_periods=window also nulls any
    # window containing a null (statsmodels propagates edge NaNs)
    rolled = with_global_rolling(
        ranked, ["__pos__"], ["__v__"], period, ["mean"], min_periods=period,
        partitions=partitions, dense_total=n_rows,
    ).withColumnRenamed("__v____rolling_mean", "__ma__")
    if period % 2 == 0:
        rolled = with_global_rolling(
            rolled, ["__pos__"], ["__ma__"], 2, ["mean"], min_periods=2,
            partitions=partitions, dense_total=n_rows,
        ).drop("__ma__").withColumnRenamed("__ma____rolling_mean", "__ma__")
    rolled = rolled.withColumn(
        "__phase__", ((F.col("__pos__") - 1) % period).cast("int")
    )
    # realign the trailing average onto the window center: the value h
    # positions AHEAD (negative shift) is this row's centered trend
    trended = with_global_shift(
        rolled, ["__pos__"], ["__ma__"], periods=-h, dense_pos=True,
    ).drop("__ma__").withColumnRenamed("__ma____prev__", "__trend__")
    det = trended.withColumn(
        "__det__", F.col("__v__") - F.col("__trend__")
    )
    smeans = det.groupBy("__phase__").agg(
        F.avg("__det__").alias("__smean__")
    )
    overall = smeans.agg(F.avg("__smean__").alias("__soverall__"))
    sm = F.broadcast(smeans.crossJoin(F.broadcast(overall)).select(
        "__phase__",
        (F.col("__smean__") - F.col("__soverall__")).alias("__seasonal__"),
    ))
    out = det.join(sm, "__phase__", "left")
    return out.select(
        *order_by,
        F.col("__v__").alias(value_col),
        F.col("__trend__").alias("trend"),
        F.col("__seasonal__").alias("seasonal"),
        (
            F.col("__v__") - F.col("__trend__") - F.col("__seasonal__")
        ).alias("resid"),
    )
