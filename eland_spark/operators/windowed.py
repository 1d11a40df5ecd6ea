"""Window-function operators.

The reference exposes no window functions (ES has none; rank/sem raise
NotImplementedError, eland/operations.py:1140-1146); its only frame-like
op is top_hits (per-group first row) behind idxmax/idxmin. These are the
Spark-native generalizations: per-group top-k, running aggregates,
lag/lead. All are single-shuffle on the partition keys.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from ..frame import DataFrame


def top_k_per_group(
    df: "DataFrame",
    by: list[str] | str,
    order_col: str,
    k: int = 3,
    ascending: bool = False,
    tiebreak: list[str] | str | None = None,
    rank_col: str = "rn",
) -> "DataFrame":
    """Top-k rows per group by order_col (top_hits generalization).

    One shuffle on the group keys; with AQE the per-partition sort is
    spill-safe. Deterministic given a tiebreak key.
    """
    from ..frame import DataFrame as EDF

    by = [by] if isinstance(by, str) else list(by)
    tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    schema = df._schema
    order = [
        F.col(schema.resolve(order_col)).asc()
        if ascending
        else F.col(schema.resolve(order_col)).desc()
    ] + [F.col(schema.resolve(c)).asc() for c in tb]
    w = Window.partitionBy(*[F.col(schema.resolve(b)) for b in by]).orderBy(*order)
    out = (
        df._sdf.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
    from ..schema import Field
    from pyspark.sql import types as T

    return EDF(out, schema.with_field(Field(rank_col, rank_col, T.IntegerType(), True)))


def rolling_time_agg(
    df: "DataFrame",
    by: list[str] | str,
    ts: str,
    col: str,
    window_seconds: int,
    aggs: list[str] = ("sum", "count"),
    prefix: str = "rolling",
) -> "DataFrame":
    """Per-key trailing time-window aggregates (pandas
    ``rolling('7D', on=ts)`` per group): RANGE BETWEEN over epoch
    seconds — one hash shuffle on the keys + local sort, state bounded
    by the window, no self-join. Emits ``<prefix>_<agg>`` columns next
    to the key/ts/value columns."""
    from pyspark.sql import types as T

    from ..frame import DataFrame as EDF

    by = [by] if isinstance(by, str) else list(by)
    schema = df._schema
    fn_map = {
        "sum": F.sum,
        "count": F.count,
        "mean": F.avg,
        "min": F.min,
        "max": F.max,
    }
    bad = [a for a in aggs if a not in fn_map]
    if bad:
        raise ValueError(f"unsupported rolling aggs {bad}; one of {sorted(fn_map)}")
    tcol = F.col(schema.resolve(ts))
    secs = F.expr(
        f"timestampdiff(SECOND, to_timestamp('1970-01-01 00:00:00'), "
        f"`{schema.resolve(ts)}`)"
    )
    w = (
        Window.partitionBy(*[F.col(schema.resolve(b)) for b in by])
        .orderBy(secs.asc())
        .rangeBetween(-int(window_seconds), 0)
    )
    v = F.col(schema.resolve(col))
    out = df._sdf.select(
        *[F.col(schema.resolve(b)).alias(b) for b in by],
        tcol.alias(ts),
        v.alias(col),
        *[F.col(schema.resolve(ic)).alias(ic) for ic in schema.index_cols
          if ic not in by and ic != ts],
        *[fn_map[a](v).over(w).alias(f"{prefix}_{a}") for a in aggs],
    )
    return EDF(out, index_cols=tuple(schema.index_cols))


def running_agg(
    df: "DataFrame",
    by: list[str] | str,
    order: list[str] | str,
    col: str,
    agg: str = "sum",
    out_col: str = "running",
) -> "DataFrame":
    """Cumulative aggregate within group ordered by ``order``."""
    from ..frame import DataFrame as EDF
    from ..schema import Field
    from pyspark.sql import types as T

    by = [by] if isinstance(by, str) else list(by)
    order = [order] if isinstance(order, str) else list(order)
    schema = df._schema
    w = (
        Window.partitionBy(*[F.col(schema.resolve(b)) for b in by])
        .orderBy(*[F.col(schema.resolve(o)).asc() for o in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}[agg]
    out = df._sdf.withColumn(out_col, fn(F.col(schema.resolve(col))).over(w))
    return EDF(out, schema.with_field(Field(out_col, out_col, T.DoubleType(), True)))


def shifted(
    df: "DataFrame",
    by: list[str] | str,
    order: list[str] | str,
    col: str,
    periods: int = 1,
    out_col: str | None = None,
) -> "DataFrame":
    """lag (periods>0) / lead (periods<0) within group."""
    from ..frame import DataFrame as EDF
    from ..schema import Field

    by = [by] if isinstance(by, str) else list(by)
    order = [order] if isinstance(order, str) else list(order)
    schema = df._schema
    w = Window.partitionBy(*[F.col(schema.resolve(b)) for b in by]).orderBy(
        *[F.col(schema.resolve(o)).asc() for o in order]
    )
    src = F.col(schema.resolve(col))
    expr = F.lag(src, periods).over(w) if periods >= 0 else F.lead(src, -periods).over(w)
    name = out_col or f"{col}_shift"
    out = df._sdf.withColumn(name, expr)
    return EDF(out, schema.with_field(Field(name, name, schema.field(col).spark_type, True)))


def sessionize(
    df: "DataFrame",
    user_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    session_col: str = "session_id",
) -> "DataFrame":
    """Gaps-and-islands sessionization: a new session starts when the gap
    to the previous event exceeds ``gap_seconds``. Batch analog of
    Structured Streaming session_window (see eland_spark.streaming);
    two window passes over one shuffle on user_col."""
    from ..frame import DataFrame as EDF
    from ..schema import Field
    from pyspark.sql import types as T

    schema = df._schema
    u, t = F.col(schema.resolve(user_col)), F.col(schema.resolve(ts_col))
    w = Window.partitionBy(u).orderBy(t.asc())
    gap = F.timestamp_diff("SECOND", F.lag(t, 1).over(w), t)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    out = (
        df._sdf.withColumn("__new__", is_new)
        .withColumn(session_col, F.sum("__new__").over(
            Window.partitionBy(u).orderBy(t.asc()).rowsBetween(Window.unboundedPreceding, 0)
        ))
        .drop("__new__")
    )
    return EDF(out, schema.with_field(Field(session_col, session_col, T.LongType(), True)))


# ---------------------------------------------------------------------------
# exponentially weighted mean (pandas ewm.mean, adjust=True, ignore_na=False)
# ---------------------------------------------------------------------------

def resolve_ewm_alpha(
    alpha: float | None = None,
    span: float | None = None,
    halflife: float | None = None,
    com: float | None = None,
) -> float:
    """pandas decay parameterization -> smoothing factor alpha."""
    import math as _m

    given = [p is not None for p in (alpha, span, halflife, com)]
    if sum(given) != 1:
        raise ValueError("pass exactly one of alpha/span/halflife/com")
    if alpha is not None:
        a = float(alpha)
    elif span is not None:
        if span < 1:
            raise ValueError("span must be >= 1")
        a = 2.0 / (span + 1.0)
    elif halflife is not None:
        a = 1.0 - _m.exp(-_m.log(2.0) / float(halflife))
    else:
        a = 1.0 / (1.0 + float(com))
    if not 0 < a <= 1:
        raise ValueError("alpha must be in (0, 1]")
    return a


def ewm_kernel_width(alpha: float, tol: float = 1e-16) -> int:
    """Number of lags after which the weight ``(1-alpha)^W`` drops below
    ``tol`` — beyond that, terms are invisible in a double, so the
    truncated kernel is EXACT to machine precision. This is what makes
    ewm distributed-friendly: the sequential recursion becomes a
    bounded-lookback window op."""
    import math as _m

    d = 1.0 - alpha
    if d <= 0:
        return 0
    return int(_m.ceil(_m.log(tol) / _m.log(d)))


def _ewm_expr(
    col: Column, d: float, w, min_periods: int, stat: str = "mean"
) -> Column:
    """Exponentially weighted ``stat`` (mean/var/std; pandas adjust=True,
    bias=False, ignore_na=False) over a bounded ordered window frame:
    collect the frame's values + a null mask as aligned arrays (nulls
    keep their slot so weights advance over gaps), then JVM-side
    higher-order folds against the truncated-kernel weights
    ``d^(n-i)``. No Python, no UDF; array length is the (bounded)
    kernel width.

    mean: ``sum(v_i * w_i) / sum(w_i)`` over the masked weights. var/
    std fold the moments about the CURRENT row's value (variance is
    shift invariant; the shift keeps the ``swxx - swx^2/sw`` difference
    small-magnitude for large-mean data), unbiased via the standard
    reliability correction ``sw^2 / (sw^2 - sum(w^2))``; fewer than 2
    observations (or all weight on one observation) -> null, matching
    pandas."""
    vals = F.collect_list(F.coalesce(col.cast("double"), F.lit(0.0))).over(w)
    mask = F.collect_list(
        F.when(col.isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0))
    ).over(w)
    n = F.size(vals)
    wts = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.pow(F.lit(d), (n - i).cast("double")),
    )
    wm = F.zip_with(mask, wts, lambda m, x: m * x)
    sw = F.aggregate(wm, F.lit(0.0), lambda a, x: a + x)
    cnt = F.aggregate(mask, F.lit(0.0), lambda a, x: a + x)
    if stat == "mean":
        num = F.aggregate(
            F.zip_with(vals, wm, lambda v, x: v * x),
            F.lit(0.0), lambda a, x: a + x,
        )
        return F.when((sw != 0) & (cnt >= F.lit(float(min_periods))), num / sw)
    cur = F.coalesce(col.cast("double"), F.lit(0.0))
    sw2 = F.aggregate(wm, F.lit(0.0), lambda a, x: a + x * x)
    swx = F.aggregate(
        F.zip_with(vals, wm, lambda v, x: (v - cur) * x),
        F.lit(0.0), lambda a, x: a + x,
    )
    swxx = F.aggregate(
        F.zip_with(vals, wm, lambda v, x: (v - cur) * (v - cur) * x),
        F.lit(0.0), lambda a, x: a + x,
    )
    biased = F.greatest(
        swxx / sw - (swx / sw) * (swx / sw), F.lit(0.0)
    )
    denom = sw * sw - sw2
    var = F.when(
        (cnt >= F.lit(float(max(min_periods, 2)))) & (denom > 0),
        biased * sw * sw / denom,
    )
    return F.sqrt(var) if stat == "std" else var


def ewm_mean_grouped(
    df: "DataFrame",
    by: list[str] | str,
    col: str,
    *,
    alpha: float | None = None,
    span: float | None = None,
    halflife: float | None = None,
    com: float | None = None,
    min_periods: int = 0,
    tol: float = 1e-16,
    max_kernel: int = 1024,
    out_col: str | None = None,
    engine: str = "auto",
    stat: str = "mean",
) -> "DataFrame":
    """Per-group exponentially weighted ``stat`` (``mean``/``var``/
    ``std``) in index order (pandas ``groupby().ewm().<stat>()``,
    adjust=True, bias=False for var/std, ignore_na=False).

    Both engines pay the SAME one hash shuffle on the group keys and
    both are sequential within a group (the recursion is), so the
    choice is pure per-row cost:

    - ``'arrow'``: applyInPandas with pandas' C ewm kernel per group —
      O(1) per row, one Python boundary per group. The default for any
      real kernel width (alpha=0.5/W=54 on 150k rows: 0.3s vs 11s for
      the window engine — collect_list re-materializes the W-row frame
      per row and the HOF folds are interpreted, so the window engine
      is O(W) per row at interpreter speed).
    - ``'window'``: bounded-lookback keyed window of JVM higher-order
      folds over the ``tol``-truncated kernel — zero Python; wins only
      for very fast decays (tiny W) or huge numbers of tiny groups
      (where per-group pandas overhead dominates). ``'auto'`` picks it
      when W <= 8.

    Decays so slow the kernel exceeds ``max_kernel`` always use arrow.
    No reference analog (ES has no ewm agg); pandas surface only.
    """
    if engine not in ("auto", "window", "arrow"):
        raise ValueError(f"engine must be auto|window|arrow, got {engine!r}")
    if stat not in ("mean", "var", "std"):
        raise ValueError(f"stat must be mean|var|std, got {stat!r}")
    from ..frame import DataFrame as EDF
    from ..schema import Field
    from pyspark.sql import types as T

    a = resolve_ewm_alpha(alpha, span, halflife, com)
    d = 1.0 - a
    by = [by] if isinstance(by, str) else list(by)
    cols = [col] if isinstance(col, str) else list(col)
    schema = df._schema
    icols = list(df.index_cols)
    if not icols:
        raise ValueError("ewm needs an index for row order")
    suffix = "_ewm" if stat == "mean" else f"_ewm_{stat}"
    names = (
        [out_col] if (out_col and len(cols) == 1)
        else [f"{c}{suffix}" for c in cols]
    )
    W = ewm_kernel_width(a, tol)
    use_window = engine == "window" or (engine == "auto" and W <= 8)
    if use_window and W <= max_kernel:
        w = Window.partitionBy(
            *[F.col(schema.resolve(b)) for b in by]
        ).orderBy(*[F.col(schema.resolve_any(c)).asc() for c in icols]).rowsBetween(
            -W, Window.currentRow
        )
        out = df._sdf
        sch = schema
        for c, name in zip(cols, names):
            out = out.withColumn(
                name, _ewm_expr(F.col(schema.resolve(c)), d, w, min_periods, stat)
            )
            sch = sch.with_field(Field(name, name, T.DoubleType(), True))
        return EDF(out, sch)

    # slow-decay fallback: exact pandas kernel per group via Arrow
    import pandas as pd

    phys_by = [schema.resolve(b) for b in by]
    phys_idx = [schema.resolve_any(c) for c in icols]
    phys_cols = [schema.resolve(c) for c in cols]
    keep = list(dict.fromkeys(phys_by + phys_idx + phys_cols))
    sub = df._sdf.select(*keep)
    out_schema = ", ".join(
        [f"`{c}` {df._sdf.schema[c].dataType.simpleString()}" for c in keep]
        + [f"`{n}` double" for n in names]
    )

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(phys_idx, kind="mergesort")
        for pc, n in zip(phys_cols, names):
            proxy = pdf[pc].ewm(alpha=a, min_periods=min_periods)
            pdf[n] = getattr(proxy, stat)()
        return pdf

    res = sub.groupBy(*phys_by).applyInPandas(_fn, out_schema)
    from ..schema import Schema

    flds = tuple(
        f for f in schema.fields if f.column_name in set(keep)
    ) + tuple(Field(n, n, T.DoubleType(), True) for n in names)
    return EDF(res, Schema(flds, tuple(icols)))


def ewm_global(
    sdf,
    order_by: list[str],
    value_cols: list[str],
    *,
    alpha: float | None = None,
    span: float | None = None,
    halflife: float | None = None,
    com: float | None = None,
    min_periods: int = 0,
    stat: str = "mean",
):
    """Exponentially weighted ``stat`` (``mean``/``var``/``std``; pandas
    ``ewm()``, adjust=True, bias=False, ignore_na=False) over the GLOBAL
    order for every column in ``value_cols``, each overwritten in place
    with its DOUBLE result — the ONE global ewm kernel behind
    ``Series.ewm`` and ``DataFrame.ewm``. No single-partition window:
    the truncated kernel (see :func:`ewm_kernel_width`) bounds the
    lookback, so the bucketed padded frame of global rolling applies —
    positions bucketed, ``W`` boundary rows replicated forward as
    burn-in, one balanced hash exchange for the whole column set.
    Kernels wider than 8192 raise (use a faster decay, or group the
    data).

    Engine choice is per kernel width ``W``: up to 8 lags the JVM
    higher-order folds of :func:`_ewm_expr`; beyond that pandas' C ewm
    kernel per padded bucket (one Arrow-batched applyInPandas) — the
    window engine re-materializes the W-row frame per row and folds it
    interpreted, O(W) per row (measured: span=20 / W=369 on 150k rows,
    122 s window vs ~1 s arrow). Both engines keep the same
    tol-truncated-kernel approximation contract."""
    from pyspark.sql import types as T

    from .ranking import _bucketed_frame

    if stat not in ("mean", "var", "std"):
        raise ValueError(f"stat must be mean|var|std, got {stat!r}")
    a = resolve_ewm_alpha(alpha, span, halflife, com)
    W = ewm_kernel_width(a)
    if W > 8192:
        raise ValueError(
            f"ewm kernel width {W} exceeds max_kernel=8192; "
            "use a faster decay (larger alpha) or a grouped ewm"
        )
    un, w = _bucketed_frame(sdf, order_by, W + 1)
    if W <= 8:
        out = un.withColumns({
            c: _ewm_expr(F.col(c), 1.0 - a, w, min_periods, stat)
            for c in value_cols
        })
    else:
        import pandas as pd

        out_schema = T.StructType([
            T.StructField(f.name, T.DoubleType(), True)
            if f.name in value_cols else f
            for f in un.schema.fields
        ])

        def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__g__", kind="mergesort")
            for c in value_cols:
                proxy = pdf[c].ewm(alpha=a, min_periods=min_periods)
                pdf[c] = getattr(proxy, stat)()
            return pdf

        out = un.groupBy("__b__").applyInPandas(_fn, out_schema)
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")
