"""Distribution-drift metrics between two corpus snapshots.

No reference analog; these are the standard monitoring statistics a
data pipeline computes between yesterday's corpus and today's before
letting a training run consume it: the Population Stability Index
(the banking-scorecard drift measure, sum over bins of
``(p-q) * ln(p/q)``) and KL divergence. Conventions follow common
practice: empty-bin proportions clamp to ``eps`` so the logs stay
finite, and the PSI reading is interpreted on the usual
<0.1 stable / 0.1-0.25 moderate / >0.25 major scale.

Scale shape: every test here, batch or streamed, reduces each snapshot
to counts in ONE hash aggregation first — per bin (:func:`_bin_counts`)
or per distinct value (:func:`_value_counts`) — and works on those
count frames only: the raw tables stream through exactly once, nothing
row-sized ever joins or collects. The binned tests full-join their bin
frames null-safely with broadcast totals (:func:`_binned`); the rank
tests full-join their value frames into one lazily checkpointed frame
(:func:`_joined_counts`) that the windowless bucket prefix-sum pass
(operators/ranking) and the scalar aggregate both read. Row-count
denominators go through :func:`_nonzero`, so an empty side yields null
statistics (DuckDB's ``x/0``), never an ANSI divide-by-zero error.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._literals import map_lit

__all__ = [
    "drift_bins",
    "psi",
    "js_divergence",
    "ks_statistic",
    "ks_battery",
    "ks_battery_from_counts",
    "kolmogorov_pvalue",
    "fdr_bh",
    "chi2_association",
    "welch_ttest",
    "mann_whitney_u",
    "rank_scorecard",
    "rank_scorecard_from_counts",
]


def _bin_expr(col, edges: Sequence[float]):
    """Bin index for explicit edges: bin i covers [edges[i], edges[i+1])
    with underflow -> bin -1 and overflow -> bin len(edges)-1. Explicit
    edges (not engine-side quantiles) so any engine replays the exact
    same binning."""
    e = [float(x) for x in edges]
    if sorted(e) != e or len(set(e)) != len(e):
        raise ValueError("edges must be strictly increasing")
    expr = F.lit(len(e) - 1)  # overflow
    for i in range(len(e) - 2, -1, -1):
        expr = F.when(col < F.lit(e[i + 1]), F.lit(i)).otherwise(expr)
    expr = F.when(col < F.lit(e[0]), F.lit(-1)).otherwise(expr)
    return expr


def _nonzero(name: str):
    """A row-count denominator as double, null when the count is 0: a
    fraction over an empty side is null (DuckDB's ``x/0``) instead of
    Spark ANSI's DIVIDE_BY_ZERO."""
    return F.when(F.col(name) > 0, F.col(name).cast("double"))


def _bin_counts(
    df: DataFrame, column: str, edges: "Sequence[float] | None", name: str
) -> DataFrame:
    """``(bin, name)`` counts of one snapshot: numeric bins of
    :func:`_bin_expr` over explicit ``edges`` with nulls dropped, or
    with ``edges=None`` one CATEGORICAL bin per distinct value (cast to
    string), null being its own category."""
    c = F.col(column)
    if edges is not None:
        key = _bin_expr(c.cast("double"), edges)
        df = df.where(c.isNotNull())
    else:
        key = c.cast("string")
    return df.groupBy(key.alias("bin")).agg(F.count(F.lit(1)).alias(name))


def _binned(
    ref: DataFrame, cur: DataFrame, column: str,
    edges: "Sequence[float] | None",
) -> DataFrame:
    """Both snapshots' bin counts side by side: ``(bin, __rn__, __cn__,
    __rt__, __ct__, __p__, __q__)`` — counts (0 where a side lacks the
    bin), per-side totals, and the per-side fractions (null over an
    empty side)."""
    rc = _bin_counts(ref, column, edges, "__rn__")
    cc = _bin_counts(cur, column, edges, "__cn__").withColumnRenamed(
        "bin", "__cbin__"
    )
    # null-SAFE bin join: in categorical mode null is a real category
    # and must line up across snapshots (a bare key join would emit two
    # disjoint null rows)
    joined = rc.join(
        cc, rc["bin"].eqNullSafe(cc["__cbin__"]), "full"
    ).select(
        F.coalesce(rc["bin"], cc["__cbin__"]).alias("bin"),
        F.coalesce(F.col("__rn__"), F.lit(0)).alias("__rn__"),
        F.coalesce(F.col("__cn__"), F.lit(0)).alias("__cn__"),
    )
    tot = joined.agg(
        F.coalesce(F.sum("__rn__"), F.lit(0)).alias("__rt__"),
        F.coalesce(F.sum("__cn__"), F.lit(0)).alias("__ct__"),
    )
    return joined.crossJoin(F.broadcast(tot)).select(
        "*",
        (F.col("__rn__") / _nonzero("__rt__")).alias("__p__"),
        (F.col("__cn__") / _nonzero("__ct__")).alias("__q__"),
    )


def _value_counts(df: DataFrame, column: str, name: str, *keys) -> DataFrame:
    """``(*keys, __v__, name)`` per-distinct-value counts of ``column``
    cast to double — the first stage of every rank test, batch and
    streamed. Null and NaN values drop (pandas/scipy missing semantics;
    Spark would otherwise group NaN as a value), as do null keys.
    ``keys`` are aliased key Columns."""
    base = df.select(*keys, F.col(column).cast("double").alias("__v__"))
    names = base.columns if keys else ["__v__"]
    ok = F.col("__v__").isNotNull() & ~F.isnan("__v__")
    for k in names[:-1]:
        ok = F.col(k).isNotNull() & ok
    return base.where(ok).groupBy(*names).agg(F.count(F.lit(1)).alias(name))


def _joined_counts(rc: DataFrame, cc: DataFrame) -> DataFrame:
    """``(__v__, __rn__, __cn__)``: the two sides' value counts
    full-outer-joined, 0 where a side lacks the value, lazily
    checkpointed — the prefix-sum pass and the totals both read it, so
    the snapshots behind it stream through once."""
    return (
        rc.join(cc, "__v__", "full_outer")
        .select(
            "__v__",
            F.coalesce("__rn__", F.lit(0)).alias("__rn__"),
            F.coalesce("__cn__", F.lit(0)).alias("__cn__"),
        )
        .localCheckpoint(eager=False)
    )


def _rank_sum_aggs(t, run):
    """The ref side's midrank sum ``__r1__`` and the tie term
    ``__ties__ = sum(t^3 - t)`` as aggregates over the joined counts,
    from each value's total count ``t`` and its running total ``run``
    (midrank = rows before + (t+1)/2)."""
    mid = (run - t) + (t + 1) / 2.0
    tt = t.cast("double")
    return (
        F.sum(F.col("__rn__") * mid).alias("__r1__"),
        F.sum(tt * tt * tt - tt).alias("__ties__"),
    )


def _u_z(n1, n2):
    """Mann-Whitney ``u`` (ref side) and its normal-approximation
    ``z`` with the tie-corrected variance ``(n1*n2/12) * (N+1 -
    sum(t^3-t)/(N*(N-1)))``, from the :func:`_rank_sum_aggs` columns.
    ``u`` is null when a side is empty, ``z`` also when all values
    tie."""
    nn = n1 + n2
    u = F.col("__r1__") - n1 * (n1 + 1) / 2.0
    var = (n1 * n2 / 12.0) * (
        (nn + 1) - F.col("__ties__") / F.when(nn > 1, nn * (nn - 1))
    )
    ok = (n1 > 0) & (n2 > 0)
    return (
        F.when(ok, u).alias("u"),
        F.round(
            F.when(ok & (var > 0), (u - n1 * n2 / 2.0) / F.sqrt(var)), 6
        ).alias("z"),
    )


def _contingency_cells(sdf: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Observed contingency cells ``(__a__, __b__, __o__)`` of two
    categorical columns (string-cast, rows with a null on either side
    dropped) in ONE hash agg, lazily checkpointed so the raw table
    streams through once while marginals and totals re-read the
    cell-sized frame. Shared by :func:`chi2_association` and
    ``evaluation.cohens_kappa``."""
    base = sdf.select(
        F.col(col_a).cast("string").alias("__a__"),
        F.col(col_b).cast("string").alias("__b__"),
    ).where(F.col("__a__").isNotNull() & F.col("__b__").isNotNull())
    return (
        base.groupBy("__a__", "__b__")
        .agg(F.count(F.lit(1)).alias("__o__"))
        .localCheckpoint(eager=False)
    )


def drift_bins(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    edges: "Sequence[float] | None" = None,
    eps: float = 1e-4,
) -> DataFrame:
    """Per-bin drift table: ``(bin, ref_frac, cur_frac, psi_term,
    kl_term)``. Numeric binning with explicit ``edges``; pass
    ``edges=None`` for CATEGORICAL drift (one bin per distinct value
    of ``column`` across both snapshots; null is its own bin).

    Fractions are computed against each snapshot's non-null total (for
    numeric) / full total (categorical, where null is a category);
    absent bins clamp to ``eps`` before the logs, the standard PSI
    convention. A side with no rows has null fractions, and its
    PSI/KL terms take the ``eps`` floor. Plan: the shared binned core
    (module docstring).
    """
    j = _binned(ref, cur, column, edges)
    p = F.greatest(F.col("__p__"), F.lit(float(eps)))
    q = F.greatest(F.col("__q__"), F.lit(float(eps)))
    return j.select(
        "bin",
        F.round("__p__", 6).alias("ref_frac"),
        F.round("__q__", 6).alias("cur_frac"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        F.round(p * F.log(p / q), 6).alias("kl_term"),
    )


def ks_statistic(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the two
    snapshots' distributions of ``column``, as a 1-row frame
    ``(ks, n_ref, n_cur)`` — ``max |ECDF_ref(x) - ECDF_cur(x)|`` over
    every distinct value, never a sampled or binned approximation
    (the bin-free complement to :func:`drift_bins`: PSI needs edges
    chosen up front; KS sees any shift the data can express). Null and
    NaN values are dropped; ``ks`` is null when a side is empty.

    This is the KS column of :func:`rank_scorecard`; the optimizer
    prunes the Mann-Whitney terms it does not return.
    """
    return rank_scorecard(ref, cur, column).select("ks", "n_ref", "n_cur")


def welch_ttest(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """Welch's unequal-variance t-test between the two snapshots'
    means of ``column``, as a 1-row frame ``(t, df, mean_ref,
    mean_cur, n_ref, n_cur)`` — the parametric mean-shift test
    (Welch 1947) with the Welch–Satterthwaite degrees of freedom.
    ``t``/``df`` are null when either side has <2 observations or
    both variances are 0. Null and NaN values are dropped.

    Scale shape: ONE full-scan aggregation per snapshot (count, mean,
    sample variance — all map-side-combinable; Spark's moment aggs
    merge numerically stably), assembled by a 1-row scalar join.
    """

    def side(df, tag):
        c = F.col(column).cast("double")
        return df.where(c.isNotNull() & ~F.isnan(c)).agg(
            F.count(c).alias(f"__n{tag}__"),
            F.avg(c).alias(f"__m{tag}__"),
            F.var_samp(c).alias(f"__v{tag}__"),
        )

    j = side(ref, "1").crossJoin(F.broadcast(side(cur, "2")))
    n1, n2 = F.col("__n1__").cast("double"), F.col("__n2__").cast("double")
    v1, v2 = F.col("__v1__"), F.col("__v2__")
    se1, se2 = v1 / n1, v2 / n2
    se = se1 + se2
    ok = (
        (F.col("__n1__") >= 2) & (F.col("__n2__") >= 2) & (se > 0)
    )
    t = F.when(ok, (F.col("__m1__") - F.col("__m2__")) / F.sqrt(se))
    df_ws = F.when(
        ok,
        (se * se)
        / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)),
    )
    return j.select(
        F.round(t, 6).alias("t"),
        F.round(df_ws, 6).alias("df"),
        F.round("__m1__", 6).alias("mean_ref"),
        F.round("__m2__", 6).alias("mean_cur"),
        F.col("__n1__").cast("bigint").alias("n_ref"),
        F.col("__n2__").cast("bigint").alias("n_cur"),
    )


def mann_whitney_u(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """Exact Mann-Whitney U rank-sum test between the two snapshots,
    as a 1-row frame ``(u, z, n_ref, n_cur)`` — the nonparametric
    complement to :func:`welch_ttest` (sensitive to any stochastic
    dominance, not just mean shifts). ``u`` is the U statistic of the
    REF side from exact midranks; ``z`` is the normal approximation
    with the standard tie-corrected variance
    ``(n1*n2/12) * (N+1 - sum(t^3-t)/(N*(N-1)))`` and no continuity
    correction (ties make a 0.5 correction ill-defined); null when a
    side is empty or all values tie. Null and NaN values are dropped.

    Plan: the shared rank core (module docstring) with ONE running
    total — of ``t = rn + cn`` — and the side sizes summed in the
    scalar aggregate, so no totals join (``rank_scorecard`` needs both
    running ECDFs and pays for them).
    """
    from .ranking import with_global_cumagg

    joined = _joined_counts(
        _value_counts(ref, column, "__rn__"),
        _value_counts(cur, column, "__cn__"),
    )
    cum = with_global_cumagg(
        joined.withColumn("__t__", F.col("__rn__") + F.col("__cn__")),
        ["__v__"],
        [("__t__", "sum", "__cum__")],
    )
    agg = cum.agg(
        *_rank_sum_aggs(F.col("__t__"), F.col("__cum__")),
        F.sum("__rn__").cast("double").alias("__n1__"),
        F.sum("__cn__").cast("double").alias("__n2__"),
    )
    n1, n2 = F.col("__n1__"), F.col("__n2__")
    return agg.select(
        *_u_z(n1, n2),
        n1.cast("bigint").alias("n_ref"),
        n2.cast("bigint").alias("n_cur"),
    )


def rank_scorecard(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """Both rank-based two-sample tests in ONE pass, as a 1-row frame
    ``(ks, u, z, n_ref, n_cur)`` — the exact KS sup-distance of
    :func:`ks_statistic` and the exact tie-corrected Mann-Whitney U/z
    of :func:`mann_whitney_u`, computed together. The two tests share
    their entire scaffolding (running ECDF numerators double as
    midrank inputs since ``cum(t) = cum(rn) + cum(cn)``), so the
    nightly drift gate pays one plan instead of two. Identical
    null/NaN and degenerate-edge semantics to the standalone
    operators (pinned by differential test). Plan: the shared rank
    core (module docstring)."""
    return rank_scorecard_from_counts(
        _value_counts(ref, column, "__rn__"),
        _value_counts(cur, column, "__cn__"),
    )


def rank_scorecard_from_counts(rc: DataFrame, cc: DataFrame) -> DataFrame:
    """:func:`rank_scorecard` from PRE-AGGREGATED per-distinct-value
    counts — ``rc = (__v__, __rn__)`` for the reference side, ``cc =
    (__v__, __cn__)`` for the current side. Distinct-value counts
    merge by plain addition, so this is the entry point for stored or
    streamed count snapshots (``streaming/curation.read_rank_scorecard``
    sums per-micro-batch counts and lands here); the batch operators
    are this same core over two freshly aggregated count frames."""
    from .ranking import with_global_cumagg

    joined = _joined_counts(rc, cc)
    cum = with_global_cumagg(
        joined,
        ["__v__"],
        [("__rn__", "sum", "__cr__"), ("__cn__", "sum", "__cc__")],
    )
    tot = joined.agg(
        F.sum("__rn__").alias("__nr__"), F.sum("__cn__").alias("__nc__")
    )
    j = cum.crossJoin(F.broadcast(tot))
    dist = F.abs(
        F.col("__cr__") / _nonzero("__nr__")
        - F.col("__cc__") / _nonzero("__nc__")
    )
    agg = j.agg(
        F.round(F.max(dist), 6).alias("__ks__"),
        *_rank_sum_aggs(
            F.col("__rn__") + F.col("__cn__"),
            F.col("__cr__") + F.col("__cc__"),  # == cumulative t, exactly
        ),
        F.max("__nr__").cast("double").alias("__n1__"),
        F.max("__nc__").cast("double").alias("__n2__"),
    )
    n1, n2 = F.col("__n1__"), F.col("__n2__")
    return agg.select(
        F.col("__ks__").alias("ks"),
        *_u_z(n1, n2),
        n1.cast("bigint").alias("n_ref"),
        n2.cast("bigint").alias("n_cur"),
    )


def chi2_association(sdf: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Association between two CATEGORICAL columns as a 1-row frame
    ``(n, chi2, dof, cramers_v, mutual_info)`` — Pearson's chi-squared
    independence statistic, Cramér's V (the [0,1]-normalized effect
    size), and mutual information in nats.

    The drift use: ``col_a`` = snapshot tag, ``col_b`` = a categorical
    feature — chi2/V measure whether the category mix moved between
    snapshots. The curation use: lang x domain, label x source — a
    high V flags a confound before training.

    Zero-expected cells never arise: the identity
    ``chi2 = n * (sum_observed o^2/(r_a * c_b)) - n`` (and MI's
    ``0 * log 0 = 0`` convention) means only OBSERVED contingency
    cells are needed — no dense cross of the marginals. Plan: the
    checkpointed cells of :func:`_contingency_cells`; marginals are
    class-sized re-aggs broadcast back, the statistic is one scalar
    agg.
    """
    cont = _contingency_cells(sdf, col_a, col_b)
    ra = cont.groupBy("__a__").agg(F.sum("__o__").alias("__ca__"))
    cb = cont.groupBy("__b__").agg(F.sum("__o__").alias("__cb__"))
    tot = cont.agg(
        F.sum("__o__").alias("__n__"),
        F.countDistinct("__a__").alias("__ka__"),
        F.countDistinct("__b__").alias("__kb__"),
    )
    j = (
        cont.join(F.broadcast(ra), "__a__")
        .join(F.broadcast(cb), "__b__")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("__o__").cast("double")
    ca, cbv = F.col("__ca__").cast("double"), F.col("__cb__").cast("double")
    n = F.col("__n__").cast("double")
    stats = j.agg(
        F.max("__n__").cast("bigint").alias("n"),
        (F.max(n) * F.sum(o * o / (ca * cbv)) - F.max(n)).alias("__chi2__"),
        ((F.max("__ka__") - 1) * (F.max("__kb__") - 1))
        .cast("bigint")
        .alias("dof"),
        F.sum((o / n) * F.log(o * n / (ca * cbv))).alias("__mi__"),
        F.least(F.max("__ka__") - 1, F.max("__kb__") - 1).alias("__mindim__"),
    )
    return stats.select(
        "n",
        F.round("__chi2__", 6).alias("chi2"),
        "dof",
        F.round(
            F.when(
                (F.col("__mindim__") > 0) & (F.col("n") > 0),
                F.sqrt(
                    F.greatest(F.col("__chi2__"), F.lit(0.0))
                    / (F.col("n") * F.col("__mindim__"))
                ),
            ),
            6,
        ).alias("cramers_v"),
        F.round("__mi__", 6).alias("mutual_info"),
    )


def psi(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    edges: "Sequence[float] | None" = None,
    eps: float = 1e-4,
) -> float:
    """Scalar PSI between the two snapshots (sum of the per-bin terms
    of :func:`drift_bins`); a driver float for gating logic."""
    row = (
        drift_bins(ref, cur, column, edges, eps)
        .agg(F.sum("psi_term").alias("psi"))
        .collect()[0]
    )
    v = row["psi"]
    return float("nan") if v is None else float(v)


def js_divergence(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    edges: "Sequence[float] | None" = None,
) -> DataFrame:
    """Jensen-Shannon divergence between the two snapshots'
    distributions of ``column`` as a 1-row frame ``(js, js_distance,
    n_ref, n_cur)`` — the SYMMETRIC, always-finite complement to the
    PSI/KL terms of :func:`drift_bins`: with ``m = (p + q) / 2``,
    ``js = (KL(p||m) + KL(q||m)) / 2``, bounded in ``[0, ln 2]`` with
    NO epsilon clamping (a bin absent from one side contributes its
    exact ``p * ln 2 / 2``, where PSI's clamp would saturate), and
    ``js_distance = sqrt(js / ln 2)`` is the [0, 1] metric form.
    Numeric binning with explicit ``edges`` (nulls dropped);
    ``edges=None`` bins categorically (null is its own category),
    exactly as :func:`drift_bins`; ``js`` is null when a side is empty.
    Plan: the shared binned core (module docstring) and one bin-sized
    scalar aggregate.
    """
    j = _binned(ref, cur, column, edges)
    p, q = F.col("__p__"), F.col("__q__")
    m = (p + q) / 2.0
    # 0 * ln(0/m) == 0 by convention: gate each side's term on count>0
    term = (
        F.when(F.col("__rn__") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("__cn__") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    ) / 2.0
    agg = j.agg(
        F.sum(term).alias("__js__"),
        F.max("__rt__").alias("__rt__"),
        F.max("__ct__").alias("__ct__"),
    )
    js = F.when(
        (F.col("__rt__") > 0) & (F.col("__ct__") > 0),
        # clamp tiny negative float residue so sqrt never NaNs
        F.greatest(F.col("__js__"), F.lit(0.0)),
    )
    return agg.select(
        F.round(js, 6).alias("js"),
        F.round(F.sqrt(js / float(math.log(2.0))), 6).alias("js_distance"),
        F.col("__rt__").cast("bigint").alias("n_ref"),
        F.col("__ct__").cast("bigint").alias("n_cur"),
    )


def kolmogorov_pvalue(lam, terms: int = 20):
    """Asymptotic two-sided Kolmogorov p-value as a Column expression:
    ``Q(lam) = 2 * sum_{k>=1} (-1)^(k-1) exp(-2 k^2 lam^2)`` truncated
    at ``terms``, with ``lam < 0.16`` returning exactly 1 — below that
    the 20-term truncation degrades (at lam = 0 the alternating
    partial sums oscillate and 20 terms give 0, the OPPOSITE tail: a
    no-drift key would read as the strongest rejection, r7 review
    finding); at the 0.16 cutover the truncation error is < 1e-9 and
    the true Q is within 1e-20 of 1, so the rule is continuous to
    double precision (the Numerical Recipes probks convention: return
    1 where the series hasn't converged). Pure
    arithmetic + exp — any engine replays it bit-for-bit, no special
    functions needed.
    """
    lam = F.col(lam) if isinstance(lam, str) else lam
    s = F.lit(0.0)
    for k in range(1, terms + 1):
        term = F.exp(F.lit(-2.0 * k * k) * lam * lam)
        s = s + (term if k % 2 == 1 else -term)
    series = F.least(F.greatest(2.0 * s, F.lit(0.0)), F.lit(1.0))
    return F.when(lam < 0.16, F.lit(1.0)).otherwise(series)


def ks_battery(
    ref: DataFrame,
    cur: DataFrame,
    key_col: str,
    column: str,
    terms: int = 20,
) -> DataFrame:
    """Exact two-sample KS statistic PER KEY — the whole drift battery
    (one test per feature/segment) in one plan, as ``(key_col, ks, p,
    n_ref, n_cur)``. ``ks`` is the exact sup-ECDF-distance within each
    key (null when a side is empty for that key); ``p`` is the
    asymptotic Kolmogorov p-value at the Numerical-Recipes effective-n
    correction ``lam = (sqrt(en) + 0.12 + 0.11/sqrt(en)) * ks`` with
    ``en = n_ref*n_cur/(n_ref+n_cur)`` (:func:`kolmogorov_pvalue` —
    engine-replayable arithmetic). Null keys and null/NaN values drop
    (matching the streaming store's write-time filter). Feed the
    ``p`` column to :func:`fdr_bh` for multiple-testing control.

    Plan: per-(key, distinct value) counts (:func:`_value_counts`),
    then :func:`ks_battery_from_counts`.
    """
    key = F.col(key_col).alias("__k__")
    rc = _value_counts(ref, column, "__rn__", key)
    cc = _value_counts(cur, column, "__cn__", key)
    return ks_battery_from_counts(rc, cc, terms=terms).withColumnRenamed(
        "key", key_col
    )


def ks_battery_from_counts(
    rc: DataFrame, cc: DataFrame, terms: int = 20
) -> DataFrame:
    """:func:`ks_battery` core on pre-aggregated per-(key, distinct
    value) count frames — ``rc``: ``(__k__, __v__, __rn__)``, ``cc``:
    ``(__k__, __v__, __cn__)``. The shared read path for the streaming
    twin (``streaming/curation.read_ks_battery``), so streamed reading
    equals the batch battery of everything ingested, exactly. Returns
    ``(key, ks, p, n_ref, n_cur)``.

    Scale shape: the count frames full-outer-join on (key, value), and
    BOTH running ECDFs plus both per-key totals ride keyed windows on
    the SAME key partitioning (one shuffle, reused); the sup-distance
    is one per-key aggregate on that same partitioning. Skew follows
    the largest key's distinct-value count, never its row count."""
    joined = rc.join(cc, ["__k__", "__v__"], "full").select(
        "__k__", "__v__",
        F.coalesce(F.col("__rn__"), F.lit(0)).alias("__rn__"),
        F.coalesce(F.col("__cn__"), F.lit(0)).alias("__cn__"),
    )
    wk = Window.partitionBy("__k__")
    wrun = wk.orderBy("__v__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = joined.select(
        "__k__",
        F.sum("__rn__").over(wrun).alias("__crn__"),
        F.sum("__cn__").over(wrun).alias("__ccn__"),
        F.sum("__rn__").over(wk).alias("__rt__"),
        F.sum("__cn__").over(wk).alias("__ct__"),
    )
    rt, ct = _nonzero("__rt__"), _nonzero("__ct__")
    d = F.abs(F.col("__crn__") / rt - F.col("__ccn__") / ct)
    agg = stepped.groupBy("__k__").agg(
        F.max(d).alias("__ks__"),
        F.max("__rt__").alias("__rt__"),
        F.max("__ct__").alias("__ct__"),
    )
    # en > 0 wherever ks is non-null (both sides present), the only
    # rows the p-value branch evaluates
    en = (
        F.col("__rt__").cast("double") * F.col("__ct__")
        / (F.col("__rt__") + F.col("__ct__"))
    )
    lam = (F.sqrt(en) + 0.12 + 0.11 / F.sqrt(en)) * F.col("__ks__")
    return agg.select(
        F.col("__k__").alias("key"),
        F.round("__ks__", 6).alias("ks"),
        F.round(
            F.when(F.col("__ks__").isNotNull(),
                   kolmogorov_pvalue(lam, terms)),
            6,
        ).alias("p"),
        F.col("__rt__").cast("bigint").alias("n_ref"),
        F.col("__ct__").cast("bigint").alias("n_cur"),
    )


def fdr_bh(
    sdf: DataFrame,
    p_col: str,
    alpha: float = 0.05,
    partitions: "int | None" = None,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a battery of p-values —
    adds ``{p_col}_adj`` (the BH-adjusted p, statsmodels
    ``multipletests(method='fdr_bh')`` semantics: ``adj_i = min_{j>=i}
    p_(j) * m / j`` capped at 1, ties sharing one value) and
    ``reject`` (``adj <= alpha``) to the input frame. Running one
    drift test per feature multiplies false alarms; BH caps the
    expected fraction of false rejections at ``alpha``. Null/NaN
    p-values pass through with null adj/reject (not counted in ``m``).

    Scale shape: NEVER ranks rows — p-values reduce to distinct-value
    counts in one hash aggregation. A battery is usually
    feature-count-sized, so when there are <= 1000 distinct p-values
    the rank/suffix-min fold runs driver-local on that collected list
    and the adjustment returns as ONE map literal (the learn_bpe
    dual-path split: one job instead of the rank passes' six waves).
    Larger batteries take the fully distributed path: max-rank-per-
    distinct-p from the windowless bucket prefix-sum pass, the
    suffix-min from a second prefix pass over the DESCENDING order
    (order by ``-p``), the distinct-p-sized map joined back.
    """
    from .ranking import with_global_cumagg

    p = F.col(p_col).cast("double")
    base = sdf.withColumn("__p__", F.when(~F.isnan(p), p))
    per = (
        base.where(F.col("__p__").isNotNull())
        .groupBy("__p__")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .localCheckpoint(eager=False)
    )
    head = per.limit(1001).collect()
    if not head:
        return (
            sdf.withColumn(f"{p_col}_adj", F.lit(None).cast("double"))
            .withColumn("reject", F.lit(None).cast("boolean"))
        )
    if len(head) <= 1000:
        # driver-local fold over the distinct (p, count) list
        pairs = sorted((r["__p__"], r["__n__"]) for r in head)
        m = sum(n for _, n in pairs)
        adj_map: dict = {}
        run = 0
        cands = []
        for pv, n in pairs:
            run += n
            cands.append((pv, min(pv * m / run, 1.0)))
        suffix = 1.0
        for pv, cand in reversed(cands):
            suffix = min(suffix, cand)
            adj_map[pv] = suffix
        adj_col = map_lit(adj_map, "double", "double")[F.col("__p__")]
    else:
        m = per.agg(F.coalesce(F.sum("__n__"), F.lit(0))).collect()[0][0]
        # max rank j of each distinct p's tied block -> the block's
        # shared candidate p*m/j is its SMALLEST, which is what the
        # suffix-min assigns every tied member anyway
        cum = with_global_cumagg(
            per, ["__p__"], [("__n__", "sum", "__j__")], partitions=partitions
        )
        cand = F.least(
            F.col("__p__") * float(m) / F.col("__j__"), F.lit(1.0)
        )
        adj = with_global_cumagg(
            cum.select("__p__", cand.alias("__cand__"))
            .withColumn("__negp__", -F.col("__p__")),
            ["__negp__"],
            [("__cand__", "min", "__adj__")],
            partitions=partitions,
        ).select("__p__", "__adj__")
        base = base.join(adj, ["__p__"], "left")
        adj_col = F.col("__adj__")
    return base.select(
        *[c for c in sdf.columns],
        adj_col.alias(f"{p_col}_adj"),
        (adj_col <= F.lit(float(alpha))).alias("reject"),
    )
