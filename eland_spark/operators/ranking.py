"""Distributed global-order kernels.

``row_number() OVER (ORDER BY ...)`` with an empty PARTITION BY pulls
every row through ONE partition — the classic scale cliff. Every
operator here works from ONE rank pass (:func:`_rank_pass`) that
produces the same 1-based global row numbers the scalable way:

1. range-partition + sort by the order columns (one range shuffle —
   the same shuffle a global sort needs anyway);
2. per-partition counts (plus any per-bucket aggregate totals a
   caller asks for) -> cumulative offsets on the driver (one tiny row
   per partition);
3. ``monotonically_increasing_id`` on the SORTED, CACHED frame encodes
   (partition_id << 33) | row_in_partition — pure bit arithmetic
   recovers the within-partition position, and ``offset[pid] + pos + 1``
   is the global rank. No window, no extra exchange, everything stays
   JVM-side.

The two passes share the cached sorted frame (range boundaries come
from sampling, so the frame must be pinned for the id assignment to be
consistent with the counted layout).

On top of the rank pass, each global-order window op has exactly one
kernel, and each kernel takes a LIST of columns (the Frame, Series and
GroupBy fronts are thin callers):

- :func:`with_global_shift` — position self-join (shift/diff/pct_change);
- :func:`with_global_cumagg` and :func:`with_global_expanding` — the
  bucket prefix fold :func:`_global_runs` (within-bucket running
  window + driver prefix-combine of per-bucket totals);
- :func:`with_global_rolling` — the bucketed padded frame
  :func:`_bucketed_frame` with every agg from :func:`_window_agg` (the
  pandas rolling agg + skew/kurt guard expression, shared with the
  grouped rolling front) in ONE projection;
- ffill/bfill, interpolate, rolling apply/quantile/corr/cov, and the
  keyed midranks behind :func:`spearman_corr`.

The global ewm kernel is ``windowed.ewm_global`` on the same padded
bucket frame.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .._literals import map_lit

__all__ = [
    "with_global_rank",
    "with_global_shift",
    "with_global_cumagg",
    "with_global_expanding",
    "with_global_rolling",
    "with_global_rolling_apply",
    "with_global_rolling_quantile",
    "spearman_corr",
]

_POS_MASK = (1 << 33) - 1


def _rank_pass(
    sdf: DataFrame,
    order_by: list[str | Column],
    partitions: int | None,
    agg_cols: list[Column] = (),
    extra_keys: list[Column] = (),
    ascending: bool = True,
    range_cols: list[str | Column] | None = None,
):
    """The ONE global rank pass body behind :func:`with_global_rank` and
    :func:`_ranked_bucket_stats`: range-partition + sort + cache the
    ``__mid__``-tagged frame, then ONE driver collect of per-bucket
    (``__b__`` = ``__mid__ >> 33``, optionally sub-keyed by
    ``extra_keys``) row counts ``__cnt__`` plus ``agg_cols``, folded
    into exclusive rank offsets per bucket.

    Returns ``(src, pid, stats, offsets, total, rank)``: the cached
    frame (still carrying ``__mid__``), the bucket-id expression, the
    collected stats rows ordered by ``__b__``, bucket -> offset, the
    exact row count, and the 1-based global rank expression."""
    spark = sdf.sparkSession
    n_parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _ordering(cs):
        cols = [F.col(c) if isinstance(c, str) else c for c in cs]
        return [c.asc() if ascending else c.desc() for c in cols]

    ordering = _ordering(order_by)
    range_ordering = ordering if range_cols is None else _ordering(range_cols)
    src = (
        sdf.repartitionByRange(int(n_parts), *range_ordering)
        .sortWithinPartitions(*ordering)
        .withColumn("__mid__", F.monotonically_increasing_id())
        .cache()
    )
    pid = F.shiftright(F.col("__mid__"), 33)
    # at most partitions x extra-key rows: sorted here, not by a Spark
    # range sort (which would cost a sampling job and a range exchange)
    stats = sorted(
        src.groupBy(pid.alias("__b__"), *extra_keys)
        .agg(F.count(F.lit(1)).alias("__cnt__"), *agg_cols)
        .collect(),
        key=lambda r: r["__b__"],
    )
    bucket_counts: dict[int, int] = {}
    for r in stats:
        bucket_counts[r["__b__"]] = (
            bucket_counts.get(r["__b__"], 0) + r["__cnt__"]
        )
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(bucket_counts):
        offsets[b] = acc
        acc += bucket_counts[b]
    pos = F.col("__mid__").bitwiseAND(F.lit(_POS_MASK))
    if offsets:
        rank = map_lit(offsets, "bigint", "bigint")[pid] + pos + 1
    else:  # empty frame: no offsets to look up (no rows to rank)
        rank = pos + 1
    return src, pid, stats, offsets, acc, rank.cast("long")


def with_global_rank(
    sdf: DataFrame,
    order_by: list[str | Column],
    ascending: bool = True,
    rank_col: str = "rank",
    partitions: int | None = None,
    range_cols: list[str | Column] | None = None,
) -> DataFrame:
    """Return ``sdf`` with a 1-based global row-number column over the
    total order given by ``order_by`` (add a unique key as the last
    order column for fully deterministic ranks). The result is
    range-partitioned and sorted — downstream ``filter(rank <= k)``
    prunes whole partitions via the offsets already paid for.

    ``range_cols`` (default: all of ``order_by``) narrows the RANGE
    partitioning to a prefix of the order columns while the full
    ordering still sorts within partitions. Rows equal on the prefix
    are then CO-LOCATED (RangePartitioning satisfies the clustered
    distribution a downstream ``Window.partitionBy(prefix)`` needs), so
    e.g. a tie-resolution window on the value reuses this exchange
    instead of adding a hash shuffle; global order is preserved because
    equal prefix keys never straddle a range boundary. Trade-off: a
    single massively-duplicated prefix value concentrates in one
    partition — same skew exposure the tie window itself would have.

    NOTE: the returned frame holds a cache pin; call
    ``.unpersist()`` on it (or let it age out) when done.
    """
    src, _pid, _stats, _off, total, rank = _rank_pass(
        sdf, order_by, partitions, ascending=ascending, range_cols=range_cols
    )
    out = src.withColumn(rank_col, rank).drop("__mid__")
    # the offsets fold already summed the exact row count — stash it so
    # internal callers (_bucketed_frame/...) can skip their own count()
    # job wave (private contract; see _ranked_total)
    out._eland_rank_total = total
    return out


def _ranked_total(ranked: DataFrame) -> int:
    """Row count of a :func:`with_global_rank` result without a job:
    the rank pass already folded per-partition counts on the driver.
    Falls back to ``count()`` (metadata-cheap — the frame is cached)
    for frames that lost the stash (e.g. after re-wrapping)."""
    n = getattr(ranked, "_eland_rank_total", None)
    return int(n) if n is not None else ranked.count()


def _ranked_bucket_stats(
    sdf: DataFrame,
    order_by: list[str | Column],
    agg_cols: list[Column],
    partitions: int | None = None,
    extra_keys: list[Column] | None = None,
):
    """Global rank pass AND per-bucket aggregate totals in ONE driver
    collect — the bucket IS the range partition (``__b__`` =
    ``__mid__ >> 33``), which is a contiguous global-rank range, so
    prefix folds over the stats rows in ``__b__`` order mean exactly
    what a rank-derived bucket plan's folds would, while the
    per-bucket totals cost no second synchronous job wave (r8 opt: each
    totals collect measured ~0.25 s steady-state at sf0.1 on top of the
    rank pass it duplicated).

    Returns ``(ranked, bucket_col, stats, offsets)``: ``ranked``
    carries the input columns plus ``__g__`` (1-based global rank) and
    ``__b__`` (bucket id — callers drop both before returning),
    ``bucket_col`` is ``F.col("__b__")``, ``stats`` is the collected
    list of per-bucket Rows ordered by ``__b__`` with ``__cnt__``
    (bucket row count) plus every aggregate in ``agg_cols``
    (pre-aliased), and ``offsets`` maps bucket id -> its exclusive
    rank offset (interpolate re-bases its per-bucket boundary-struct
    positions with it). ``extra_keys`` sub-keys the stats
    (:func:`keyed_midranks`' per-(bucket, key) totals); rank offsets
    fold over the ``__cnt__`` sums per bucket either way. Bucket
    sizes come from range-partition sampling rather than exact rank
    arithmetic — same balance the rank pass itself runs on. The
    returned frame holds a cache pin (the :func:`with_global_rank`
    contract) and stashes ``_eland_rank_total``."""
    src, pid, stats, offsets, total, rank = _rank_pass(
        sdf, order_by, partitions, agg_cols, extra_keys or ()
    )
    out = src.select(
        "*", pid.alias("__b__"), rank.alias("__g__")
    ).drop("__mid__")
    out._eland_rank_total = total
    return out, F.col("__b__"), stats, offsets


def _running(bucket: Column):
    """Running (unbounded-preceding -> current) frame over global rank
    within one bucket — the within-bucket half of every prefix fold."""
    return (
        Window.partitionBy(bucket)
        .orderBy("__g__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


_RUN_FNS = {
    "sum": F.sum, "count": F.count, "max": F.max, "min": F.min,
    "prod": F.product,
}


def _global_runs(
    sdf: DataFrame,
    order_by: list[str | Column],
    tasks: dict[str, tuple[Column, str]],
    partitions: int | None = None,
):
    """The bucket prefix fold behind every windowless running
    aggregation (cumagg, expanding): ONE rank pass whose stats collect
    also carries every task's per-bucket total, ONE running window per
    bucket (one balanced hash exchange on the bucket id), and the
    bucket totals prefix-combined on the driver and merged back as map
    literals.

    ``tasks`` maps a key to ``(input, kind)`` with kind one of
    sum/count/max/min/prod (count = running NON-NULL observation
    count; prod = true running product — F.product within buckets,
    driver prefix-multiply across them, so zeros and signs are exact,
    no log/exp detour). Returns ``(ranked, runs)``: ``ranked`` carries
    ``__g__`` and ``__b__`` (callers drop both) and ``runs`` maps each
    key to its running-value Column, defined at EVERY row (null inputs
    carry the run forward) — callers apply their own null policy."""
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [
            _RUN_FNS[k](e).alias(f"__t_{i}__")
            for i, (e, k) in enumerate(tasks.values())
        ],
        partitions,
    )
    w = _running(bucket)
    # each carry map literal is typed as its task's aggregate
    types = [
        f.dataType.simpleString()
        for f in sdf.select(
            *[_RUN_FNS[k](e) for e, k in tasks.values()]
        ).schema.fields
    ]
    runs: dict[str, Column] = {}
    for i, (key, (e, kind)) in enumerate(tasks.items()):
        within = _RUN_FNS[kind](e).over(w)
        additive = kind in ("sum", "count")
        # exclusive prefix combine of bucket totals on the driver: sum/
        # count have identity 0, prod 1; max/min have none — buckets
        # without a preceding total are absent from the map (null
        # lookup, skipped by greatest/least)
        offsets: dict[int, object] = {}
        acc: object = 0 if additive else 1.0 if kind == "prod" else None
        for r in totals:
            if acc is not None:
                offsets[r["__b__"]] = acc
            t = r[f"__t_{i}__"]
            if t is None:
                continue
            if additive:
                acc = acc + t
            elif kind == "prod":
                # a zero prefix stays a (signed) zero: a later bucket
                # total is infinite only by overflow of finite values,
                # which the sequential product never reaches (0 * inf
                # would be NaN)
                acc = acc * (t if acc != 0 else math.copysign(1.0, t))
            elif acc is None:
                acc = t
            else:
                acc = max(acc, t) if kind == "max" else min(acc, t)
        if not offsets:  # empty frame / all-null column / single bucket
            runs[key] = within
            continue
        carry = map_lit(offsets, "bigint", types[i])[bucket]
        if additive:
            # within is NULL when the bucket prefix holds no
            # observations — the carry must still flow through
            run = F.coalesce(carry, F.lit(0)) + F.coalesce(within, F.lit(0))
        elif kind == "prod":
            # same zero rule per row: a zero carry keeps the zero even
            # when the within-bucket product overflowed (inf, or NaN
            # once that inf met a zero) — sign via signum when defined
            c = F.coalesce(carry, F.lit(1.0))
            wp = F.coalesce(within, F.lit(1.0))
            run = F.when(
                c == 0, c * F.nanvl(F.signum(wp), F.lit(1.0))
            ).otherwise(c * wp)
        elif kind == "max":
            run = F.greatest(carry, within)
        else:
            run = F.least(carry, within)
        runs[key] = run
    return ranked, runs


def with_global_shift(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    periods: int = 1,
    partitions: int | None = None,
    dense_pos: bool = False,
) -> DataFrame:
    """Value of the row ``periods`` positions earlier (later for
    negative) in the GLOBAL order — pandas ``shift`` without the
    empty-PARTITION-BY single-reducer window: global positions come
    from :func:`with_global_rank`, and ONE self-equi-join on
    ``position - periods`` carries every column in ``value_cols`` (one
    hash shuffle on the dense position key — perfectly balanced, no
    cliff). Shifted twins land in ``<col>__prev__``; rows with no
    source position get null, matching pandas.

    ``dense_pos=True``: the single ``order_by`` column already IS a
    dense 1-based global position (a prior rank pass in the same
    pipeline) — the join keys on it directly, skipping the second rank
    pass (range shuffle + sampling job + count collect) entirely; the
    result is identical because only position arithmetic is used."""
    if dense_pos:
        if len(order_by) != 1 or not isinstance(order_by[0], str):
            raise ValueError(
                "dense_pos requires a single named dense-position column"
            )
        ranked = sdf.withColumn("__g__", F.col(order_by[0]).cast("long"))
    else:
        ranked = with_global_rank(
            sdf, order_by, rank_col="__g__", partitions=partitions
        )
    src = ranked.select(
        (F.col("__g__") + F.lit(periods)).alias("__g__"),
        *[F.col(c).alias(f"{c}__prev__") for c in value_cols],
    )
    return ranked.join(src, "__g__", "left").drop("__g__")


def _combine_moments(na, ma, m2a, m3a, m4a, nb, mb, m2b, m3b, m4b):
    """Exact pairwise central-moment combination (Pébay 2008) — the
    driver-side prefix fold for :func:`_global_cummoments`."""
    n = na + nb
    if n == 0:
        return 0.0, 0.0, 0.0, 0.0, 0.0
    d = mb - ma
    mean = ma + d * nb / n
    m2 = m2a + m2b + d * d * na * nb / n
    m3 = (
        m3a + m3b
        + d ** 3 * na * nb * (na - nb) / (n * n)
        + 3.0 * d * (na * m2b - nb * m2a) / n
    )
    m4 = (
        m4a + m4b
        + d ** 4 * na * nb * (na * na - na * nb + nb * nb) / (n ** 3)
        + 6.0 * d * d * (na * na * m2b + nb * nb * m2a) / (n * n)
        + 4.0 * d * (na * m3b - nb * m3a) / n
    )
    return n, mean, m2, m3, m4


def _global_cummoments(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Per-row RUNNING central moments over the global order —
    ``__cum_n__ / __cum_mean__ / __cum_m2__ / __cum_m3__ / __cum_m4__``
    (expanding skew/kurt's engine). The within-bucket running moments
    come from Spark's numerically stable builtin window aggregates
    (avg/var_pop/skewness/kurtosis, inverted back to raw central
    moments); the cross-bucket carry is the EXACT pairwise
    moment-combination algebra (Pébay 2008, the same math Spark's own
    aggregate merge uses), prefix-folded over per-bucket totals on the
    driver and folded back as map literals. This keeps every prefix as
    accurate as a direct two-pass computation — a single global
    centering (the sumsq/sumsh trick that suffices for variance)
    catastrophically cancels the THIRD moment of heavy-tailed data
    whose prefix mean sits far from the global mean.

    Null values carry the run forward (pandas skipna); ``|x| < 1e-30``
    flushes to 0 so the builtin moment aggs' final division cannot
    throw on subnormal underflow under ANSI (affected prefixes are
    all-equal-after-flush and land in callers' m2<=0 branches)."""
    v0 = F.col(value_col).cast("double")
    v = F.when(F.abs(v0) < 1e-30, F.lit(0.0)).otherwise(v0)
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [
            F.count(v).alias("n"),
            F.avg(v).alias("m"),
            F.var_pop(v).alias("vp"),
            F.skewness(v).alias("sk"),
            F.kurtosis(v).alias("kt"),
            F.min(v0).alias("vmin"),
            F.max(v0).alias("vmax"),
        ],
        partitions,
    )
    w = _running(bucket)

    # Expression-size discipline (CLAUDE.md): Column trees EXPAND on
    # every reference, and the Pébay combine below references each
    # within-bucket moment up to 6 times — inlining the window
    # aggregates there produced the widest expression trees in the repo
    # (r5's most expensive headline query). Instead the raw window
    # aggregates land ONCE in a single projection (one Window node;
    # same-spec aggs dedup within it), and every later layer builds
    # small trees over plain attribute references. Adjacent Projects
    # stay separate (CollapseProject keeps multiply-referenced
    # non-trivial aliases) and pipeline inside one codegen stage — no
    # extra exchange, no extra Window.
    win = ranked.select(
        "*",
        F.count(v).over(w).cast("double").alias("__nb__"),
        F.coalesce(F.avg(v).over(w), F.lit(0.0)).alias("__mb__"),
        F.coalesce(F.var_pop(v).over(w), F.lit(0.0)).alias("__vpb__"),
        F.skewness(v).over(w).alias("__skb__"),
        F.kurtosis(v).over(w).alias("__ktb__"),
        F.min(v0).over(w).alias("__vminb__"),
        F.max(v0).over(w).alias("__vmaxb__"),
    )
    offsets: dict[int, tuple] = {}
    minmax: dict[int, tuple] = {}
    acc = (0.0, 0.0, 0.0, 0.0, 0.0)
    accmin = accmax = None
    for r in totals:
        offsets[r["__b__"]] = acc
        minmax[r["__b__"]] = (accmin, accmax)
        bn = float(r["n"] or 0)
        if r["vmin"] is not None:
            accmin = r["vmin"] if accmin is None else min(accmin, r["vmin"])
            accmax = r["vmax"] if accmax is None else max(accmax, r["vmax"])
        if bn == 0:
            continue
        bm = float(r["m"])
        bm2 = float(r["vp"] or 0.0) * bn
        if bm2 > 0 and r["sk"] is not None and not math.isnan(r["sk"]):
            bm3 = r["sk"] * bm2 ** 1.5 / bn ** 0.5
        else:
            bm3 = 0.0
        if bm2 > 0 and r["kt"] is not None and not math.isnan(r["kt"]):
            bm4 = (r["kt"] + 3.0) * bm2 * bm2 / bn
        else:
            bm4 = 0.0
        acc = _combine_moments(*acc, bn, bm, bm2, bm3, bm4)
    # The per-bucket prefix carry folds back as ONE map literal of
    # 7-element arrays (n, mean, m2, m3, m4, min, max) — a single
    # GetMapValue scan per row instead of the seven per-moment map
    # lookups this used to pay (each scans every bucket key per row).
    if offsets:
        carry = map_lit(
            {
                b: [None if x is None else float(x) for x in (*vals, *minmax[b])]
                for b, vals in offsets.items()
            },
            "bigint",
            "array<double>",
        )[bucket]
    else:  # empty frame / all-null column / single bucket
        carry = F.array(
            *([F.lit(0.0)] * 5),
            F.lit(None).cast("double"),
            F.lit(None).cast("double"),
        )
    der = win.select("*", carry.alias("__carry__"))
    # derive the raw within-bucket moments + carry scalars as plain
    # columns; the combine layer then references only attributes
    nb = F.col("__nb__")
    m2b_ = F.col("__vpb__") * nb
    zero = F.lit(0.0)
    der = der.select(
        "*",
        m2b_.alias("__m2b__"),
        F.when(
            m2b_ > 0, F.col("__skb__") * m2b_ * F.sqrt(m2b_) / F.sqrt(nb)
        ).otherwise(zero).alias("__m3b__"),
        F.when(
            m2b_ > 0, (F.col("__ktb__") + 3.0) * m2b_ * m2b_ / nb
        ).otherwise(zero).alias("__m4b__"),
        F.coalesce(F.col("__carry__")[0], zero).alias("__na__"),
        F.coalesce(F.col("__carry__")[1], zero).alias("__ma__"),
        F.coalesce(F.col("__carry__")[2], zero).alias("__m2a__"),
        F.coalesce(F.col("__carry__")[3], zero).alias("__m3a__"),
        F.coalesce(F.col("__carry__")[4], zero).alias("__m4a__"),
        F.col("__carry__")[5].alias("__vmina__"),
        F.col("__carry__")[6].alias("__vmaxa__"),
    ).select(
        "*",
        (F.col("__na__") + F.col("__nb__")).alias("__n__"),
        (F.col("__mb__") - F.col("__ma__")).alias("__d__"),
    )
    # the same pairwise algebra as _combine_moments, as Column exprs
    # over attribute references; na == 0 and nb == 0 reduce to the
    # other side exactly (every cross term carries a vanishing factor)
    n, d = F.col("__n__"), F.col("__d__")
    na, ma = F.col("__na__"), F.col("__ma__")
    m2a, m3a, m4a = F.col("__m2a__"), F.col("__m3a__"), F.col("__m4a__")
    m2b, m3b, m4b = F.col("__m2b__"), F.col("__m3b__"), F.col("__m4b__")
    mean = F.when(n > 0, ma + d * nb / n)
    m2 = F.when(n > 0, m2a + m2b + d * d * na * nb / n)
    m3 = F.when(
        n > 0,
        m3a + m3b
        + d * d * d * na * nb * (na - nb) / (n * n)
        + 3.0 * d * (na * m2b - nb * m2a) / n,
    )
    m4 = F.when(
        n > 0,
        m4a + m4b
        + d * d * d * d * na * nb * (na * na - na * nb + nb * nb)
        / (n * n * n)
        + 6.0 * d * d * (na * na * m2b + nb * nb * m2a) / (n * n)
        + 4.0 * d * (na * m3b - nb * m3a) / n,
    )
    helper = [
        "__nb__", "__mb__", "__vpb__", "__skb__", "__ktb__", "__vminb__",
        "__vmaxb__", "__carry__", "__m2b__", "__m3b__", "__m4b__",
        "__na__", "__ma__", "__m2a__", "__m3a__", "__m4a__",
        "__vmina__", "__vmaxa__", "__n__", "__d__", "__b__",
    ]
    return der.select(
        "*",
        n.alias("__cum_n__"),
        mean.alias("__cum_mean__"),
        m2.alias("__cum_m2__"),
        m3.alias("__cum_m3__"),
        m4.alias("__cum_m4__"),
        F.least(F.col("__vmina__"), F.col("__vminb__")).alias("__cum_vmin__"),
        F.greatest(F.col("__vmaxa__"), F.col("__vmaxb__")).alias(
            "__cum_vmax__"
        ),
    ).drop(*helper)


def with_global_cumagg(
    sdf: DataFrame,
    order_by: list[str | Column],
    pairs: list[tuple[str, str, str]],
    partitions: int | None = None,
) -> DataFrame:
    """Running sum/max/min/prod over the GLOBAL order for every
    ``(value_col, agg, out_col)`` in ``pairs`` — one bucket prefix fold
    (:func:`_global_runs`: one balanced exchange, driver prefix-combine
    of per-bucket totals) paid once for the whole column set. Null
    values stay null and are skipped by the run (pandas
    cumsum/cummax skipna semantics)."""
    for _c, a, _o in pairs:
        if a not in ("sum", "max", "min", "prod"):
            raise ValueError("agg must be sum/max/min/prod")
    ranked, runs = _global_runs(
        sdf, order_by, {o: (F.col(c), a) for c, a, o in pairs}, partitions
    )
    return ranked.withColumns({
        o: F.when(F.col(c).isNotNull(), runs[o]) for c, _a, o in pairs
    }).drop("__g__", "__b__")


def with_global_expanding(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    aggs: list[str],
    min_periods: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``expanding()`` aggregates over the GLOBAL order for every
    column in ``value_cols`` through ONE bucket prefix fold
    (:func:`_global_runs`) — never one plan per column. Expanding null
    semantics: every row (null values included) carries the running
    value, masked null until ``min_periods`` NON-NULL observations have
    been seen (count's gate is the ROW position, the pandas quirk).
    ``aggs`` from sum/mean/min/max/count/std/var/skew/kurt; mean =
    running sum / running count; std/var derive from the running
    (shifted-sum, shifted-sum-of-squares, count) moments, where the
    shift is each column's GLOBAL mean (one extra scalar agg computes
    every center at once, only when std/var is requested): variance is
    shift invariant, and centering near the mean keeps the
    ``m2 = sumsq - sumsh^2/n`` difference numerically stable for
    large-magnitude data and overflow-free for integer inputs (both
    moments are double-cast before squaring) — sample (n-1) semantics,
    negative rounding dust clamped at zero, null until two observations
    like pandas. skew/kurt run on the running central-moment plan
    (:func:`_expanding_moments`, one column per call). Adds one
    ``{col}__expanding_{agg}`` column per (col, agg)."""
    moment_aggs = [a for a in aggs if a in ("skew", "kurt")]
    if moment_aggs:
        if len(moment_aggs) != len(aggs) or len(value_cols) != 1:
            raise ValueError(
                "skew/kurt run on the running-moment plan: one column "
                "per call, not mixed with other expanding aggs"
            )
        return _expanding_moments(
            sdf, order_by, value_cols[0], aggs, min_periods, partitions
        )
    for a in aggs:
        if a not in ("sum", "mean", "min", "max", "count", "std", "var"):
            raise ValueError(f"unsupported expanding agg {a!r}")
    wanted = set(aggs)
    if "mean" in wanted:
        wanted.add("sum")
    centers: dict[str, float] = {}
    if wanted & {"std", "var"}:
        row = sdf.agg(
            *[F.avg(F.col(c).cast("double")).alias(c) for c in value_cols]
        ).first()
        centers = {c: (float(row[c]) if row[c] is not None else 0.0)
                   for c in value_cols}

    # one task per running input; count is always present per column
    # (the min_periods gate)
    tasks: dict[str, tuple[Column, str]] = {}
    for c in value_cols:
        raw = F.col(c)
        tasks[f"{c}__cnt"] = (raw, "count")
        if c in centers:
            sh = raw.cast("double") - F.lit(centers[c])
            tasks[f"{c}__sumsh"] = (sh, "sum")
            tasks[f"{c}__sumsq"] = (sh * sh, "sum")
        for a in ("sum", "min", "max"):
            if a in wanted:
                tasks[f"{c}__{a}"] = (raw, a)
    ranked, runs = _global_runs(sdf, order_by, tasks, partitions)

    ok_count = F.col("__g__") >= F.lit(min_periods)
    out: dict[str, Column] = {}
    for c in value_cols:
        seen = runs[f"{c}__cnt"]
        ok = seen >= F.lit(min_periods)
        for a in aggs:
            if a == "count":
                expr = F.when(ok_count, seen.cast("double"))
            elif a == "mean":
                expr = F.when(ok, runs[f"{c}__sum"] / seen)
            elif a in ("std", "var"):
                sh = runs[f"{c}__sumsh"]
                m2 = F.greatest(
                    runs[f"{c}__sumsq"] - sh * sh / seen, F.lit(0.0)
                )
                v = m2 / (seen - 1)
                v = F.sqrt(v) if a == "std" else v
                expr = F.when(ok & (seen >= 2), v)
            else:
                expr = F.when(ok, runs[f"{c}__{a}"])
            out[f"{c}__expanding_{a}"] = expr
    return ranked.withColumns(out).drop("__g__", "__b__")


def _expanding_moments(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    aggs: list[str],
    min_periods: int,
    partitions: int | None,
) -> DataFrame:
    """expanding ``skew``/``kurt`` over :func:`_global_cummoments`'s
    running central moments — pandas sample G1/G2 with the pandas
    ROLLING cython-path edge semantics (expanding() shares it): fewer
    than 3/4 observations -> null regardless of min_periods; an
    all-equal prefix (num_consecutive_same_value in pandas; exact
    running min == max here) -> 0.0 / -3.0; otherwise a population
    variance at or below pandas' absolute 1e-14 guard -> null (the
    moment ratio is rounding noise there, GH 42064). NOTE pandas'
    whole-Series kurt of a constant returns 0.0 instead — each pandas
    code path is mirrored where it's used."""
    out = _global_cummoments(sdf, order_by, value_col, partitions)
    n = F.col("__cum_n__")
    m2 = F.col("__cum_m2__")
    const = F.col("__cum_vmin__") == F.col("__cum_vmax__")
    noise = (m2 / n) <= F.lit(1e-14)
    ok = n >= F.lit(min_periods)
    for a in aggs:
        if a == "skew":
            g1 = (
                (n * F.sqrt(n - 1) / (n - 2))
                * F.col("__cum_m3__") / (m2 * F.sqrt(m2))
            )
            expr = F.when(
                ok & (n >= 3),
                F.when(const, F.lit(0.0))
                .when(noise, F.lit(None).cast("double"))
                .otherwise(g1),
            )
        else:
            g2 = n * F.col("__cum_m4__") / (m2 * m2) - 3.0
            big = ((n + 1) * g2 + 6.0) * (n - 1) / ((n - 2) * (n - 3))
            expr = F.when(
                ok & (n >= 4),
                F.when(const, F.lit(-3.0))
                .when(noise, F.lit(None).cast("double"))
                .otherwise(big),
            )
        out = out.withColumn(f"{value_col}__expanding_{a}", expr)
    return out.drop(
        "__g__", *[c for c in out.columns if c.startswith("__cum_")]
    )


def _bucketed_frame(
    sdf: DataFrame,
    order_by: list[str | Column],
    window: int,
    partitions: int | None = None,
    dense_total: int | None = None,
):
    """Shared scaffolding for bounded-lookback global window ops
    (rolling, ewm): global positions from :func:`with_global_rank` are
    bucketed (bucket >= ``window`` so a frame spans at most two
    buckets), the last ``window-1`` rows of each bucket are REPLICATED
    into the next bucket as padding, and ONE balanced hash exchange on
    the bucket id computes the bounded frame locally. Returns the
    padded union (filter ``~__pad__`` and drop ``__b__/__pad__/__g__``
    when done) and the bounded per-bucket window spec.

    ``dense_total``: fast path for callers whose frame ALREADY carries
    a dense 1-based global position as its single ``order_by`` column
    (a prior :func:`with_global_rank` pass in the same pipeline) and
    who know the row count — skips the whole second rank pass (range
    shuffle + sampling job + count collect); the bucketed window is
    identical because it depends only on the position values."""
    spark = sdf.sparkSession
    n_parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if dense_total is not None:
        if len(order_by) != 1 or not isinstance(order_by[0], str):
            raise ValueError(
                "dense_total requires a single named dense-position column"
            )
        ranked = sdf.withColumn("__g__", F.col(order_by[0]).cast("long"))
        n = int(dense_total)
    else:
        ranked = with_global_rank(
            sdf, order_by, rank_col="__g__", partitions=n_parts
        )
        n = _ranked_total(ranked)
    bucket_size = max(window, math.ceil(n / n_parts) or 1)
    g0 = F.col("__g__") - 1
    home = ranked.withColumn(
        "__b__", (g0 / F.lit(bucket_size)).cast("long")
    ).withColumn("__pad__", F.lit(False))
    pad = (
        ranked.filter(
            F.pmod(g0, F.lit(bucket_size)) >= F.lit(bucket_size - (window - 1))
        ).withColumn("__b__", (g0 / F.lit(bucket_size)).cast("long") + 1)
        .withColumn("__pad__", F.lit(True))
        if window > 1
        else None
    )
    un = home.unionByName(pad) if pad is not None else home
    w = (
        Window.partitionBy("__b__")
        .orderBy("__g__")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    return un, w


_ROLL_FNS = {
    "sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
    "count": F.count, "std": F.stddev_samp, "var": F.var_samp,
}
_ROLLING_AGGS = (*_ROLL_FNS, "skew", "kurt")


def _window_agg(col: Column, agg: str, w, min_periods: int) -> Column:
    """pandas rolling/expanding ``agg`` of ``col`` over the bounded (or
    running) window ``w`` — the ONE expression behind the global
    rolling kernel and the grouped rolling front. Null until
    ``min_periods`` non-null observations are inside the frame.

    sum/mean/min/max/count/std/var map onto Spark's window aggregates
    (std/var are sample (n-1) semantics via stddev_samp/var_samp, whose
    internal merge is numerically stable). skew/kurt are pandas'
    sample-adjusted G1/G2, converted algebraically from Spark's
    population window moments and mirroring pandas roll_skew/roll_kurt
    edge semantics: fewer than 3 (skew) / 4 (kurt) observations -> null
    regardless of min_periods, an exact all-equal window -> 0.0 (skew)
    / -3.0 (kurt), else a population variance at or below the absolute
    1e-14 guard -> null (GH 42064). NOTE this differs from pandas' own
    whole-Series kurt, which returns 0.0 for constants; we mirror each
    pandas code path where it's used."""
    cnt = F.count(col).over(w)
    if agg in _ROLL_FNS:
        return F.when(cnt >= F.lit(min_periods), _ROLL_FNS[agg](col).over(w))
    if agg not in ("skew", "kurt"):
        raise ValueError(
            f"unsupported rolling agg {agg!r}; one of {sorted(_ROLLING_AGGS)}"
        )
    x = col.cast("double")
    # |x| < 1e-30 flushes to 0: under ANSI the builtin moment aggs'
    # final division throws when the central-moment power UNDERFLOWS
    # (subnormal-magnitude data only); affected windows all land in
    # the all-equal branch anyway
    flushed = F.when(F.abs(x) < 1e-30, F.lit(0.0)).otherwise(x)
    n = cnt.cast("double")
    const = F.min(x).over(w) == F.max(x).over(w)
    noise = F.var_pop(flushed).over(w) <= F.lit(1e-14)
    if agg == "skew":
        conv = F.sqrt(n * (n - 1)) / (n - 2) * F.skewness(flushed).over(w)
        edge, gate = F.lit(0.0), 3
    else:
        g2 = F.kurtosis(flushed).over(w)
        conv = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
        edge, gate = F.lit(-3.0), 4
    return F.when(
        cnt >= F.lit(max(min_periods, gate)),
        F.when(const, edge)
        .when(noise, F.lit(None).cast("double"))
        .otherwise(conv),
    )


def with_global_rolling(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    window: int,
    aggs: list[str],
    min_periods: int | None = None,
    partitions: int | None = None,
    dense_total: int | None = None,
) -> DataFrame:
    """Row-based rolling aggregates over the GLOBAL order (pandas
    ``rolling(window)``) for every column in ``value_cols``, windowless
    at scale: the bucketed padded frame of :func:`_bucketed_frame`
    (bucket size >= ``window`` so a frame spans at most two buckets,
    the last ``window-1`` rows of each bucket REPLICATED into the next,
    one balanced hash exchange on the bucket id) paid once for the
    whole column set; padding rows are dropped afterwards.

    Adds one ``{col}__rolling_{agg}`` column per (col, agg) for
    ``aggs`` in ``_ROLLING_AGGS`` (see :func:`_window_agg`);
    ``min_periods`` (default ``window``) counts each column's OWN
    non-null observations (pandas semantics). Every agg lands in ONE
    projection: same-spec window expressions (the count gate, and the
    const/noise guards shared by skew+kurt) dedup only within a single
    select — a withColumn per agg would plan one Window (Exchange+Sort)
    node per layer (CLAUDE.md rule)."""
    bad = [a for a in aggs if a not in _ROLLING_AGGS]
    if bad:
        raise ValueError(
            f"unsupported rolling aggs {bad}; one of {sorted(_ROLLING_AGGS)}"
        )
    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    un, w = _bucketed_frame(sdf, order_by, window, partitions, dense_total)
    rolled = [
        _window_agg(F.col(c), a, w, mp).alias(f"{c}__rolling_{a}")
        for c in value_cols
        for a in aggs
    ]
    out = un.select("*", *rolled)
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")


def with_global_rolling_binary(
    sdf: DataFrame,
    order_by: list[str | Column],
    x_col: str,
    y_col: str,
    window: int,
    metric: str = "corr",
    min_periods: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``rolling().corr(other)`` / ``rolling().cov(other)`` over
    the global order — the two-series siblings of
    :func:`with_global_rolling`, on the same bucketed padded plan.
    Spark's windowed ``corr``/``covar_samp`` (numerically stable
    merge) computes over the bounded frame; both use pairwise-complete
    observations (rows where EITHER side is null are excluded), which
    is pandas' semantics, and ``min_periods`` counts complete PAIRS.
    Adds ``rolling_corr``/``rolling_cov`` (sample covariance, n-1)."""
    if metric not in ("corr", "cov"):
        raise ValueError(f"metric must be 'corr' or 'cov', got {metric!r}")
    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    un, w = _bucketed_frame(sdf, order_by, window, partitions)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    pairs = F.count(F.when(both, F.lit(1))).over(w)
    # corr assembled from covar_samp and the PAIR-masked variances in
    # the projection, NOT F.corr: the corr aggregate's internal
    # ck/sqrt(xMk*yMk) divides by zero under ANSI whenever a window's
    # variance is 0 (constant values) — the projection-level CASE
    # evaluates lazily, so the degenerate windows yield pandas' NaN
    # instead of an error. pandas computes cov/(std*std) the same way.
    cov = F.covar_samp(F.when(both, x), F.when(both, y)).over(w)
    if metric == "cov":
        val = cov
    else:
        vx = F.var_samp(F.when(both, x)).over(w)
        vy = F.var_samp(F.when(both, y)).over(w)
        val = F.when(
            (vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy))
        ).otherwise(F.lit(float("nan")))
    out = un.withColumn(
        f"rolling_{metric}", F.when(pairs >= F.lit(mp), val)
    )
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")


def with_global_fill(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    forward: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Global-order ffill/bfill without a single-partition window: the
    last (first) non-null is a running semigroup, so the same bucket
    plan applies — within-bucket last(ignorenulls) over the running
    frame, per-bucket last-non-null totals prefix-carried on the
    driver, combined with coalesce. Fills every column in
    ``value_cols`` in ONE exchange; overwrites them in place."""
    # the per-bucket last/first non-null must NOT key on __g__ (the
    # merged collect computes it alongside the ranks): __mid__ order
    # within a bucket IS the rank order, so max_by/min_by on the
    # position bits pick the same row
    pos = F.col("__mid__").bitwiseAND(F.lit(_POS_MASK))
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        sdf,
        order_by,
        [
            (F.max_by(F.col(c), F.when(F.col(c).isNotNull(), pos))
             if forward
             else F.min_by(F.col(c), F.when(F.col(c).isNotNull(), pos)))
            .alias(f"__t_{i}__")
            for i, c in enumerate(value_cols)
        ],
        partitions,
    )
    if not forward:
        totals = list(reversed(totals))
    order = F.col("__g__").asc() if forward else F.col("__g__").desc()
    w = (
        Window.partitionBy(bucket)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranked
    for i, c in enumerate(value_cols):
        within = F.last(F.col(c), ignorenulls=True).over(w)
        carries: dict[int, object] = {}
        acc: object = None
        for r in totals:
            if acc is not None:
                carries[r["__b__"]] = acc
            t = r[f"__t_{i}__"]
            if t is not None:
                acc = t
        if carries:
            vtype = sdf.schema[c].dataType.simpleString()
            run = F.coalesce(within, map_lit(carries, "bigint", vtype)[bucket])
        else:
            run = within
        out = out.withColumn(c, run)
    return out.drop("__g__", "__b__")


def with_global_interpolate(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_cols: list[str],
    limit: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``interpolate(method='linear')`` over the GLOBAL order
    without a single-partition window. Linear on ROW position (pandas
    default index spacing), default ``limit_direction='forward'``
    semantics: interior gaps get the straight line between the
    surrounding valid values, trailing nulls carry the last valid value
    forward, leading nulls stay null; ``limit`` caps how many
    consecutive nulls after a valid value are filled.

    Scale shape — the running "last/first non-null (position, value)"
    is a semigroup, so the :func:`with_global_fill` bucket plan
    applies: ONE balanced hash exchange on the bucket id (the backward
    scan re-sorts the bucket desc and runs the same linear
    unbounded-preceding frame), per-bucket boundary structs
    prefix/suffix-carried on the driver (one tiny row per bucket), and
    the interpolation itself is pure Column arithmetic. All
    ``value_cols`` fill in the same exchange and are overwritten in
    place as doubles."""
    if limit is not None and (not isinstance(limit, int) or limit < 1):
        raise ValueError("limit must be a positive integer")
    # NaN == missing (pandas parity; float NaN survives parquet as NaN,
    # not NULL) — normalize every value column to a null-holed double
    # before anything else looks at it.
    null_d = F.lit(None).cast("double")
    for c in value_cols:
        sdf = sdf.withColumn(c, F.nanvl(F.col(c).cast("double"), null_d))
    # per-bucket boundary structs pack the LOCAL position (__mid__'s
    # low bits — the merged collect runs before ranks exist); the
    # driver adds the bucket's rank offset back when folding the
    # carry maps, so the lerp still sees global positions
    pos = F.col("__mid__").bitwiseAND(F.lit(_POS_MASK))

    def _pack_local(c: str) -> Column:
        return F.when(
            F.col(c).isNotNull(),
            F.struct(pos.alias("p"), F.col(c).cast("double").alias("v")),
        )

    nn_aggs = []
    for i, c in enumerate(value_cols):
        nn = F.when(F.col(c).isNotNull(), pos)
        nn_aggs.append(F.max_by(_pack_local(c), nn).alias(f"__f_{i}__"))
        nn_aggs.append(F.min_by(_pack_local(c), nn).alias(f"__b_{i}__"))
    ranked, bucket, totals, boff = _ranked_bucket_stats(
        sdf, order_by, nn_aggs, partitions
    )
    # the backward scan is a DESC ordering with the same RUNNING
    # (unbounded-preceding -> current) frame, NOT an asc window with an
    # unbounded-FOLLOWING frame: Spark evaluates following-unbounded
    # frames by rescanning the partition remainder per row — O(rows^2)
    # per bucket (measured 25 s vs 1 s at sf0.1). Both windows share
    # the one hash exchange on the bucket id; the desc pass only adds
    # an in-bucket re-sort.
    wf = (
        Window.partitionBy(bucket)
        .orderBy(F.col("__g__").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy(bucket)
        .orderBy(F.col("__g__").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def _pack(c: str) -> Column:
        return F.when(
            F.col(c).isNotNull(),
            F.struct(
                F.col("__g__").alias("p"), F.col(c).cast("double").alias("v")
            ),
        )

    def _lit_struct(t, b: int) -> Column:
        # global position = bucket rank offset + local position + 1
        return F.struct(
            F.lit(int(boff.get(b, 0)) + int(t["p"]) + 1)
            .cast("long")
            .alias("p"),
            F.lit(float(t["v"])).alias("v"),
        )

    def _carry_map(rows, field: str):
        carries, acc = {}, None
        for r in rows:
            if acc is not None:
                carries[r["__b__"]] = acc
            t = r[field]
            if t is not None:
                acc = _lit_struct(t, r["__b__"])
        if not carries:
            return None
        return F.create_map(
            *[x for b, t in carries.items() for x in (F.lit(b), t)]
        )

    out = ranked
    g = F.col("__g__")
    for i, c in enumerate(value_cols):
        s = _pack(c)
        prev = F.last(s, ignorenulls=True).over(wf)
        nxt = F.last(s, ignorenulls=True).over(wb)
        fmap = _carry_map(totals, f"__f_{i}__")
        bmap = _carry_map(list(reversed(totals)), f"__b_{i}__")
        if fmap is not None:
            prev = F.coalesce(prev, fmap[bucket])
        if bmap is not None:
            nxt = F.coalesce(nxt, bmap[bucket])
        line = F.when(nxt.isNull(), prev["v"]).otherwise(
            prev["v"]
            + (nxt["v"] - prev["v"])
            * (g - prev["p"]).cast("double")
            / (nxt["p"] - prev["p"]).cast("double")
        )
        if limit is not None:
            line = F.when((g - prev["p"]) <= F.lit(limit), line)
        filled = (
            F.when(F.col(c).isNotNull(), F.col(c).cast("double"))
            .when(prev.isNull(), F.lit(None).cast("double"))
            .otherwise(line)
        )
        out = out.withColumn(c, filled)
    return out.drop("__g__", "__b__")


def with_global_rolling_apply(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    window: int,
    fn,
    min_periods: int | None = None,
    raw: bool = False,
    out_col: str = "rolling_apply",
    partitions: int | None = None,
) -> DataFrame:
    """pandas ``rolling(window).apply(fn)`` over the GLOBAL order — the
    arbitrary-Python escape hatch the built-in rolling aggs can't
    express. Same bucketed padded-frame plan as
    :func:`with_global_rolling` (positions, bucket >= window, last
    window-1 rows replicated into the next bucket, ONE balanced hash
    exchange), but the per-bucket computation is one Arrow-batched
    ``applyInPandas`` running pandas' own ``rolling().apply`` locally —
    so semantics (min_periods, ``raw``) are pandas' to the letter, and
    the only Python cost is per-bucket, never per-row. Built-in aggs
    should stay on the JVM path; this is for genuinely custom window
    functions (trimmed means, custom scores).

    ``fn`` must return a float per window; the result column is
    DOUBLE.

    ``value_col`` may be a LIST of columns (frame-level
    ``DataFrame.rolling().apply``): every column rolls through the
    SAME single exchange and Arrow pass, each overwritten in place
    with its DOUBLE result — never one plan per column."""
    import pandas as pd  # noqa: F401 — applyInPandas ships the fn
    from pyspark.sql import types as T

    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    multi = not isinstance(value_col, str)
    vcols = list(value_col) if multi else [value_col]
    un, _ = _bucketed_frame(sdf, order_by, window, partitions)
    if multi:
        out_fields = [
            T.StructField(f.name, T.DoubleType() if f.name in vcols
                          else f.dataType)
            for f in un.schema.fields
        ]
        out_schema = T.StructType(out_fields)
    else:
        out_schema = T.StructType(
            list(un.schema.fields) + [T.StructField(out_col, T.DoubleType())]
        )

    def _apply(pdf):
        pdf = pdf.sort_values("__g__")
        roll = pdf[vcols].rolling(int(window), min_periods=int(mp))
        res = roll.apply(fn, raw=raw)
        if multi:
            pdf[vcols] = res
        else:
            pdf[out_col] = res[vcols[0]]
        return pdf

    out = un.groupBy("__b__").applyInPandas(_apply, schema=out_schema)
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")


def keyed_midranks(
    per: DataFrame,
    key_col: str,
    val_col: str,
    weight_col: str,
    out_col: str = "__mid__",
    partitions: "int | None" = None,
) -> DataFrame:
    """Tie-averaged midranks of ``val_col`` WITHIN each ``key_col``
    group, from per-(key, value) ``weight_col`` counts — the shared
    ranked-values stage of the rank statistics (Spearman's two axes,
    and any batch of rank tests run together: each test is one key).

    ONE windowless bucket prefix-sum pass over the (key, value) order
    serves every key: the single per-(bucket, key) totals collect
    yields BOTH the bucket prefix offsets and the per-key starting
    offsets (buckets x keys driver state, folded back as map literals
    — never a per-key shuffle, and no second job wave; a lazy
    broadcast-join formulation was measured 1.6-2.6x SLOWER end-to-end
    because the broadcast side rebuilt the count frame from source
    instead of reading the cached rank pass). Keys must sort the same
    in Python and Spark, so null keys raise and key values are
    restricted to int/str (checked at runtime, not just documented —
    a Python/Spark ordering divergence would silently corrupt every
    midrank after the divergence point). Returns a pair: the
    ``(key_col, val_col, out_col)`` frame (distinct-(key, value)-sized)
    and the per-key weight-total dict already folded on the driver,
    so callers needing grand/per-key totals (e.g. spearman's
    ``(n+1)/2`` centering) pay no extra aggregate job.
    """
    ranked, bucket, totals, _boff = _ranked_bucket_stats(
        per,
        [key_col, val_col],
        [F.sum(weight_col).alias("__t__")],
        partitions,
        extra_keys=[F.col(key_col)],
    )
    w = _running(bucket)
    bucket_tot: dict = {}
    key_tot: dict = {}
    for r in totals:
        t = r["__t__"] or 0
        bucket_tot[r["__b__"]] = bucket_tot.get(r["__b__"], 0) + t
        key_tot[r[key_col]] = key_tot.get(r[key_col], 0) + t
    # the per-key offsets below come from Python sorted(); that is only
    # valid when Python's total order over the keys matches Spark's
    # sort of key_col. Enforce it instead of trusting the docstring.
    if None in key_tot:
        raise ValueError(
            "keyed_midranks: null keys are not supported (Spark sorts "
            "nulls first but Python cannot order None) — filter or fill "
            "the key column first"
        )
    if not all(isinstance(k, (int, str)) for k in key_tot):
        bad = sorted({type(k).__name__ for k in key_tot
                      if not isinstance(k, (int, str))})
        raise TypeError(
            f"keyed_midranks: key dtype(s) {bad} not supported — keys "
            "must be int or str so Python and Spark sort identically"
        )
    if len({isinstance(k, str) for k in key_tot}) > 1:
        raise TypeError(
            "keyed_midranks: mixed int/str keys cannot be ordered "
            "consistently between Python and Spark"
        )
    boff, acc = {}, 0
    for b in sorted(bucket_tot):
        boff[b] = acc
        acc += bucket_tot[b]
    koff, acc = {}, 0
    for k in sorted(key_tot):
        koff[k] = acc
        acc += key_tot[k]

    def _map(d, col, key_type):
        if not d:
            return F.lit(0)
        return F.coalesce(map_lit(d, key_type, "bigint")[col], F.lit(0))

    run = _map(boff, bucket, "bigint") + F.coalesce(
        F.sum(F.col(weight_col)).over(w), F.lit(0)
    )
    n = F.col(weight_col)
    key_type = per.schema[key_col].dataType.simpleString()
    mid = (run - _map(koff, F.col(key_col), key_type) - n) + (n + 1) / 2.0
    out = ranked.select(key_col, val_col, mid.alias(out_col))
    return out, key_tot


def spearman_corr(
    sdf: DataFrame,
    x_col: str,
    y_col: str,
    partitions: "int | None" = None,
) -> DataFrame:
    """Exact Spearman rank correlation between two columns as a 1-row
    frame ``(rho, n)`` — Pearson correlation of tie-averaged midranks
    over pairwise-complete observations (rows where either side is
    null OR NaN are dropped, pandas ``Series.corr(method='spearman')``
    semantics). ``rho`` is null when either side is constant.

    Never ranks row data: the pair frame reduces to DISTINCT
    (x, y)-pair counts in one hash aggregation (lazily checkpointed —
    the raw table streams through once), BOTH axes' midranks come from
    ONE shared :func:`keyed_midranks` pass (the axes union into one
    (axis, value) frame, one distinct-value count + one windowless
    bucket prefix-sum serve both — r5 built this scaffolding per axis
    independently), the midranks join back onto the pair-count frame,
    and rho is ONE weighted-moment scalar aggregate. Midranks are
    centered by their exact mean ``(n+1)/2`` (the centered weighted
    sums are exactly zero), so ``rho = sxy / sqrt(sxx * syy)`` with no
    large-magnitude cancellation.
    """
    pairs = sdf.select(
        F.col(x_col).cast("double").alias("__x__"),
        F.col(y_col).cast("double").alias("__y__"),
    ).where(
        F.col("__x__").isNotNull() & ~F.isnan("__x__")
        & F.col("__y__").isNotNull() & ~F.isnan("__y__")
    )
    pc = (
        pairs.groupBy("__x__", "__y__")
        .agg(F.count(F.lit(1)).alias("__w__"))
        .localCheckpoint(eager=False)
    )
    un = pc.select(
        F.lit(0).alias("__ax__"), F.col("__x__").alias("__v__"), F.col("__w__")
    ).unionByName(
        pc.select(
            F.lit(1).alias("__ax__"), F.col("__y__").alias("__v__"),
            F.col("__w__"),
        )
    )
    per = un.groupBy("__ax__", "__v__").agg(F.sum("__w__").alias("__n__"))
    mids, key_totals = keyed_midranks(
        per, "__ax__", "__v__", "__n__", out_col="__mid__",
        partitions=partitions,
    )
    # nt (complete-pair count) was already folded on the driver by the
    # midrank pass — each axis's weights sum to it; using the literal
    # saves the broadcast scalar-agg job the crossJoin(tot) plan paid
    nt = float(key_totals.get(0, 0))
    mids = mids.localCheckpoint(eager=False)  # value-sized; read twice
    rx = mids.filter(F.col("__ax__") == 0).select(
        F.col("__v__").alias("__x__"), F.col("__mid__").alias("__rx__")
    )
    ry = mids.filter(F.col("__ax__") == 1).select(
        F.col("__v__").alias("__y__"), F.col("__mid__").alias("__ry__")
    )
    j = pc.join(rx, "__x__").join(ry, "__y__")
    c = F.lit((nt + 1) / 2.0)
    dx, dy = F.col("__rx__") - c, F.col("__ry__") - c
    w = F.col("__w__").cast("double")
    agg = j.agg(
        F.sum(w * dx * dy).alias("__sxy__"),
        F.sum(w * dx * dx).alias("__sxx__"),
        F.sum(w * dy * dy).alias("__syy__"),
    )
    ok = (F.col("__sxx__") > 0) & (F.col("__syy__") > 0)
    return agg.select(
        F.when(
            ok,
            F.col("__sxy__") / F.sqrt(F.col("__sxx__") * F.col("__syy__")),
        ).alias("rho"),
        F.lit(nt).cast("bigint").alias("n"),
    )


def with_global_rolling_quantile(
    sdf: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    window: int,
    q: float,
    min_periods: "int | None" = None,
    partitions: "int | None" = None,
) -> DataFrame:
    """pandas ``rolling(window).quantile(q, interpolation='linear')``
    over the GLOBAL order — the exact linear-interpolated percentile of
    each bounded trailing frame, on the same windowless bucketed padded
    plan as :func:`with_global_rolling` (positions bucketed, the last
    ``window-1`` rows replicated into the next bucket, ONE balanced
    hash exchange). Spark's exact ``percentile`` aggregate interpolates
    linearly between order statistics, which is pandas' default
    ``interpolation='linear'``; nulls are skipped and ``min_periods``
    gates on non-null observations in the frame. Adds
    ``rolling_quantile``."""
    if not 0.0 <= float(q) <= 1.0:
        raise ValueError("q must be in [0, 1]")
    if window < 1:
        raise ValueError("window must be >= 1")
    mp = window if min_periods is None else min_periods
    un, w = _bucketed_frame(sdf, order_by, window, partitions)
    v = F.col(value_col).cast("double")
    cnt = F.count(v).over(w)
    expr = F.percentile(v, F.lit(float(q))).over(w)
    out = un.withColumn(
        "rolling_quantile", F.when(cnt >= F.lit(mp), expr)
    )
    return out.filter(~F.col("__pad__")).drop("__b__", "__pad__", "__g__")
