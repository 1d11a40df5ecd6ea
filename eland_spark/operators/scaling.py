"""Column scaling / outlier clipping for feature pipelines.

No reference analog (eland stops at aggregation); these are the
numeric-feature normalization passes of a training pipeline
(StandardScaler / MinMaxScaler / RobustScaler / winsorization
semantics, computed Spark-side).

Scale shape: every scaler is "one aggregate pass for the statistics
(boundary-row output collected to the driver, like every frame agg)
followed by a zero-shuffle literal projection" — the projection plan
carries the fitted constants, so the transform is map-only and
codegen'd regardless of table size. Quantile-based scalers use the
exact distributed percentile operator by default with an ``approx=``
switch for the cheap path (same policy as frame.quantile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F

from .._literals import array_lit


def standard_scale(
    sdf: SparkDataFrame, cols: list[str], ddof: int = 1, suffix: str = "_z"
) -> SparkDataFrame:
    """z-score each column: (x - mean) / std. Constant columns (std 0
    or null) scale to 0.0 like sklearn. Adds ``col + suffix``."""
    std = F.stddev_samp if ddof else F.stddev_pop
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"__m_{c}"), std(c).alias(f"__s_{c}")]
    stats = sdf.agg(*aggs).collect()[0]
    out = sdf
    for c in cols:
        m, s = stats[f"__m_{c}"], stats[f"__s_{c}"]
        if s is None or s == 0.0:
            expr = F.when(F.col(c).isNotNull(), F.lit(0.0))
        else:
            expr = (F.col(c) - F.lit(float(m))) / F.lit(float(s))
        out = out.withColumn(c + suffix, expr.cast("double"))
    return out


def minmax_scale(
    sdf: SparkDataFrame, cols: list[str], suffix: str = "_mm"
) -> SparkDataFrame:
    """Scale each column to [0, 1]: (x - min) / (max - min); constant
    columns map to 0.0 (sklearn convention)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    stats = sdf.agg(*aggs).collect()[0]
    out = sdf
    for c in cols:
        lo, hi = stats[f"__lo_{c}"], stats[f"__hi_{c}"]
        if lo is None or hi is None or hi == lo:
            expr = F.when(F.col(c).isNotNull(), F.lit(0.0))
        else:
            expr = (F.col(c) - F.lit(float(lo))) / F.lit(float(hi) - float(lo))
        out = out.withColumn(c + suffix, expr.cast("double"))
    return out


def _quantiles(
    sdf: SparkDataFrame, col: str, qs: list[float], approx: bool
) -> list[float]:
    if approx:
        return [float(v) for v in sdf.stat.approxQuantile(col, qs, 1e-4)]
    from .percentiles import exact_percentiles

    return [float(v) for v in exact_percentiles(sdf, col, qs)]


def winsorize(
    sdf: SparkDataFrame,
    cols: list[str],
    lower: float = 0.05,
    upper: float = 0.95,
    approx: bool = False,
    suffix: str = "_w",
) -> SparkDataFrame:
    """Clip each column at its [lower, upper] quantiles (linear
    interpolation, matching pandas/DuckDB quantile_cont). The classic
    heavy-tail guard before scaling; exact quantiles by default via the
    range-sort percentile operator (no single-reducer value map)."""
    if approx:
        # one pass for every column (Greenwald-Khanna handles multi-col)
        bounds = dict(
            zip(cols, sdf.stat.approxQuantile(cols, [lower, upper], 1e-4))
        )
    else:
        bounds = {c: _quantiles(sdf, c, [lower, upper], False) for c in cols}
    out = sdf
    for c in cols:
        lo, hi = (float(v) for v in bounds[c])
        out = out.withColumn(
            c + suffix,
            F.least(F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi)),
        )
    return out


def robust_scale(
    sdf: SparkDataFrame,
    cols: list[str],
    approx: bool = False,
    suffix: str = "_r",
) -> SparkDataFrame:
    """(x - median) / IQR — outlier-insensitive z-score (sklearn
    RobustScaler). Zero-IQR columns scale to 0.0. Approx mode fits all
    columns in ONE Greenwald-Khanna pass; the exact path runs one
    range-sort percentile job per column (exactness over job count)."""
    if approx:
        stats = dict(
            zip(cols, sdf.stat.approxQuantile(cols, [0.25, 0.5, 0.75], 1e-4))
        )
    else:
        stats = {c: _quantiles(sdf, c, [0.25, 0.5, 0.75], False) for c in cols}
    out = sdf
    for c in cols:
        q1, med, q3 = (float(v) for v in stats[c])
        iqr = q3 - q1
        if iqr == 0:
            expr = F.when(F.col(c).isNotNull(), F.lit(0.0))
        else:
            expr = (F.col(c) - F.lit(med)) / F.lit(iqr)
        out = out.withColumn(c + suffix, expr.cast("double"))
    return out


def rank_transform(
    sdf: SparkDataFrame, col: str, suffix: str = "_q"
) -> SparkDataFrame:
    """Rank-based uniform quantile transform: each non-null value maps
    to its tie-averaged midrank scaled into (0, 1] — ``midrank / n`` —
    the exact, heavy-tail-robust feature normalization (the
    order-statistics core of sklearn's QuantileTransformer with
    uniform output; monotone, so downstream thresholds/buckets are
    distribution-free). Nulls AND NaNs stay null (pandas rank treats
    NaN as missing; Spark would otherwise group/join NaN as a
    value). Adds ``col + suffix``.

    Unlike the literal-projection scalers above, the fitted "statistic"
    here is the whole value distribution — but it still never ranks
    row data: one hash agg to DISTINCT-value counts, the windowless
    bucket prefix-sum turns them into midranks, and a distinct-sized
    join maps them back (the spearman_corr plan, applied to one
    column)."""
    from .ranking import with_global_cumagg

    v = F.col(col).cast("double")
    per = (
        sdf.select(v.alias("__v__"))
        .where(F.col("__v__").isNotNull() & ~F.isnan("__v__"))
        .groupBy("__v__")
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    cum = with_global_cumagg(per, ["__v__"], [("__n__", "sum", "__cum__")])
    tot = per.agg(F.sum("__n__").cast("double").alias("__nt__"))
    mid = (F.col("__cum__") - F.col("__n__")) + (F.col("__n__") + 1) / 2.0
    ranks = cum.crossJoin(F.broadcast(tot)).select(
        F.col("__v__"),
        (mid / F.col("__nt__")).alias(col + suffix),
    )
    return sdf.join(
        ranks, v.eqNullSafe(F.col("__v__")), "left"
    ).drop("__v__")


def quantile_normalize(
    sdf: SparkDataFrame,
    col: str,
    ref: SparkDataFrame,
    ref_col: str | None = None,
    n_quantiles: int = 1001,
    suffix: str = "_qn",
) -> SparkDataFrame:
    """Map ``col`` through a REFERENCE distribution's quantile
    function: each value takes its tie-averaged uniform rank
    ``u in (0, 1]`` (:func:`rank_transform`) and lands on the
    reference's interpolated inverse ECDF at ``u`` — the cross-snapshot
    score calibration step (make yesterday's quality scores comparable
    to today's crawl), sklearn QuantileTransformer semantics with the
    output distribution given by ``ref`` instead of uniform/normal.
    Monotone, heavy-tail-robust, exact on the rank side.

    Scale shape: the reference compresses to ``n_quantiles`` exact
    linear-interpolated percentile landmarks (sklearn itself fits on a
    bounded n_quantiles grid) via the range-sort percentile operator —
    one pass over ``ref``, landmark array folded back as ONE array
    literal; the rank side is the distinct-value-count + bucket
    prefix-sum plan of :func:`rank_transform`; the mapping itself is
    pure zero-shuffle arithmetic (floor/element_at/lerp). Nulls and
    NaNs stay null. Adds ``col + suffix``."""
    from .percentiles import exact_percentiles

    if n_quantiles < 2:
        raise ValueError("n_quantiles must be >= 2")
    ref_col = ref_col or col
    qs = [i / (n_quantiles - 1) for i in range(n_quantiles)]
    # exact_percentiles drops only nulls; Spark sorts NaN above every
    # double, so a NaN in the reference would poison the top landmark(s)
    # and map every high-rank value to NaN. Mirror the rank side's
    # missing semantics (rank_transform drops NaN) before fitting.
    ref_vals = ref.select(F.col(ref_col).cast("double").alias("__rv__")).where(
        F.col("__rv__").isNotNull() & ~F.isnan("__rv__")
    )
    landmarks = exact_percentiles(ref_vals, "__rv__", qs)
    arr = array_lit([float(x) for x in landmarks], "double")
    ranked = rank_transform(sdf, col, suffix="__u__")
    u = F.col(f"{col}__u__")
    pos = u * (n_quantiles - 1)
    lo = F.floor(pos).cast("int")
    hi = F.least(lo + 1, F.lit(n_quantiles - 1))
    frac = pos - lo
    qlo = F.element_at(arr, lo + 1)
    qhi = F.element_at(arr, hi + 1)
    out = F.when(u.isNotNull(), qlo + (qhi - qlo) * frac)
    return ranked.withColumn(col + suffix, out).drop(f"{col}__u__")


def trimmed_stats(
    sdf,
    value_col: str,
    group_cols: "list[str] | None" = None,
    trim: float = 0.1,
):
    """Per-group TRIMMED mean/std: drop the lowest and highest
    ``floor(trim * n)`` values (by rank, ties broken by rank order —
    the scipy.stats.trim_mean convention of trimming a COUNT, not a
    threshold), then mean and sample std of the remainder — the
    outlier-robust location/scale summary a metrics pipeline wants
    when winsorization's clamping would still leak magnitude.

    Cross-engine determinism: the sum and sum-of-squares accumulate
    as CUMULATIVE window sums in rank order — a fixed left-to-right
    float sequence both engines execute identically (the kaplan_meier
    contract; integer-nano quantization would overflow int64 on
    squared large values) — and only the final mean/std are rounded
    to 6dp. Nulls drop. A group whose trimmed count is < 1 yields
    null mean; < 2 yields null std.

    Scale shape: ONE keyed window exchange (rank, count, and the
    ordered prefix sums all share the group partitioning) + one hash
    agg; no global exchange.

    Returns (group..., n, n_trimmed, trimmed_mean, trimmed_std).
    """
    from pyspark.sql import Window

    if not 0.0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    groups = list(group_cols or [])
    v = F.col(value_col).cast("double")
    base = sdf.where(v.isNotNull()).select(*groups, v.alias("__v__"))
    w = Window.partitionBy(*[F.col(g) for g in groups])
    ranked = base.select(
        *groups,
        "__v__",
        F.row_number()
        .over(w.orderBy(F.col("__v__").asc()))
        .alias("__rk__"),
        F.count(F.lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__n__"),
    )
    k = F.floor(F.lit(float(trim)) * F.col("__n__")).cast("long")
    kept = ranked.where(
        (F.col("__rk__") > k) & (F.col("__rk__") <= F.col("__n__") - k)
    )
    w2 = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
        F.col("__rk__").asc()
    )
    w2c = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = kept.select(
        *groups,
        "__n__",
        "__rk__",
        F.sum("__v__").over(w2c).alias("__cs__"),
        F.sum(F.col("__v__") * F.col("__v__")).over(w2c).alias("__css__"),
    )
    agg = pre.groupBy(*groups).agg(
        F.max("__n__").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_trimmed"),
        F.max_by(F.col("__cs__"), F.col("__rk__")).alias("__s__"),
        F.max_by(F.col("__css__"), F.col("__rk__")).alias("__ss__"),
    )
    m = F.col("__s__") / F.col("n_trimmed")
    var = (
        F.col("__ss__") - F.col("__s__") * F.col("__s__") / F.col("n_trimmed")
    ) / (F.col("n_trimmed") - 1)
    return agg.select(
        *groups,
        "n",
        "n_trimmed",
        F.when(F.col("n_trimmed") >= 1, F.round(m, 6)).alias("trimmed_mean"),
        F.when(
            F.col("n_trimmed") >= 2,
            F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6),
        ).alias("trimmed_std"),
    )
