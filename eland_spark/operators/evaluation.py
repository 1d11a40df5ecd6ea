"""Binary-classifier evaluation: exact AUC and threshold metrics.

No reference analog; these close the loop on the quality-classifier
gates in ``operators/classifier.py``/``operators/text.py`` — before a
trained gate filters a 100 TB corpus, its ranking power (AUC) and the
precision/recall at the chosen threshold get measured on a labeled
holdout.

AUC computes exactly via the Mann-Whitney rank-sum identity
``AUC = (R_pos - P(P+1)/2) / (P*N)`` with midrank tie correction —
never a sampled approximation and never a single-partition sort:
scores reduce to a distinct-score frame (one hash aggregation), the
cumulative position runs through the windowless bucket prefix-sum
plan (operators/ranking), and the rank-sum is one scalar aggregate.
The confusion matrix is a single full-scan aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "auc",
    "confusion_at",
    "ranking_metrics",
    "calibration_bins",
    "cohens_kappa",
    "fleiss_kappa",
    "corpus_bleu",
    "pr_curve",
    "rouge_n",
    "chrf",
    "forecast_metrics",
]


def auc(sdf: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC AUC as a 1-row frame ``(auc, n_pos, n_neg)``.

    ``label_col`` must be 0/1 (or boolean); null scores/labels are
    dropped. Ties receive midranks (the standard Mann-Whitney
    correction), so AUC == probability a random positive outranks a
    random negative with ties counting half. Degenerate inputs (no
    positives or no negatives) yield a null AUC.
    """
    from .ranking import with_global_cumagg

    base = sdf.select(
        F.col(score_col).cast("double").alias("__s__"),
        F.col(label_col).cast("int").alias("__y__"),
    ).where(F.col("__s__").isNotNull() & F.col("__y__").isNotNull())
    per_score = base.groupBy("__s__").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.sum("__y__").alias("__np__"),
    )
    cum = with_global_cumagg(
        per_score, ["__s__"], [("__n__", "sum", "__cum__")]
    )
    # midrank of every row tied at this score: rows before + (n+1)/2
    midrank = (F.col("__cum__") - F.col("__n__")) + (F.col("__n__") + 1) / 2.0
    agg = cum.agg(
        F.sum(F.col("__np__") * midrank).alias("__rpos__"),
        F.sum("__np__").alias("__p__"),
        F.sum(F.col("__n__") - F.col("__np__")).alias("__nn__"),
    )
    p, n = F.col("__p__").cast("double"), F.col("__nn__").cast("double")
    return agg.select(
        F.round(
            F.when(
                (p > 0) & (n > 0),
                (F.col("__rpos__") - p * (p + 1) / 2.0) / (p * n),
            ),
            6,
        ).alias("auc"),
        F.col("__p__").cast("bigint").alias("n_pos"),
        F.col("__nn__").cast("bigint").alias("n_neg"),
    )


def ranking_metrics(
    sdf: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval quality at cutoff ``k`` from a rankings
    frame ``(query, rank, relevance)``: ``(query_col, ndcg, mrr,
    precision_k, recall_k, n_rel)`` — the offline scorecard for the
    BM25 / ANN / MaxSim retrieval operators in this package.

    ``rank_col`` is the system's 1-based rank; ``rel_col`` is a graded
    relevance (0 = irrelevant; gains are the standard ``2^rel - 1``,
    so binary 0/1 labels degrade to plain DCG). nDCG divides by the
    ideal DCG of the query's OWN judged items (0 when the query has no
    relevant items); MRR is the reciprocal rank of the first relevant
    item at or above ``k`` (0 when none); precision@k divides by ``k``,
    recall@k by the query's total relevant count. Null ranks /
    relevances are dropped.

    Scale shape: ONE window keyed by query (ideal-rank assignment) and
    one groupBy on the same key — the aggregation reuses the window's
    hash partitioning, so the whole scorecard costs a single shuffle
    of the judged rows (a per-query-bounded frame, not the corpus).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    base = sdf.select(
        F.col(query_col).alias("__q__"),
        F.col(rank_col).cast("bigint").alias("__r__"),
        F.col(rel_col).cast("double").alias("__rel__"),
    ).where(F.col("__r__").isNotNull() & F.col("__rel__").isNotNull())
    iw = Window.partitionBy("__q__").orderBy(
        F.col("__rel__").desc(), F.col("__r__").asc()
    )
    ideal = base.withColumn("__ir__", F.row_number().over(iw))
    gain = F.pow(F.lit(2.0), F.col("__rel__")) - 1.0
    in_k = F.col("__r__") <= k
    rel_pos = F.col("__rel__") > 0
    agg = ideal.groupBy("__q__").agg(
        F.sum(
            F.when(in_k, gain / F.log2(F.col("__r__") + 1)).otherwise(0.0)
        ).alias("__dcg__"),
        F.sum(
            F.when(
                (F.col("__ir__") <= k) & rel_pos,
                gain / F.log2(F.col("__ir__") + 1),
            ).otherwise(0.0)
        ).alias("__idcg__"),
        F.min(F.when(in_k & rel_pos, F.col("__r__"))).alias("__first__"),
        F.sum(F.when(in_k & rel_pos, 1).otherwise(0)).alias("__relk__"),
        F.sum(rel_pos.cast("int")).alias("__nrel__"),
    )
    return agg.select(
        F.col("__q__").alias(query_col),
        F.round(
            F.when(
                F.col("__idcg__") > 0, F.col("__dcg__") / F.col("__idcg__")
            ).otherwise(0.0),
            6,
        ).alias("ndcg"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("__first__"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(F.col("__relk__") / F.lit(float(k)), 6).alias("precision_k"),
        F.round(
            F.when(
                F.col("__nrel__") > 0,
                F.col("__relk__") / F.col("__nrel__").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("recall_k"),
        F.col("__nrel__").cast("bigint").alias("n_rel"),
    )


def calibration_bins(
    sdf: DataFrame, score_col: str, label_col: str, bins: int = 10
) -> DataFrame:
    """Reliability table for a probabilistic classifier: scores in
    [0, 1] bucket into ``bins`` equal-width bins and each bin reports
    ``(bin, n, confidence, accuracy, gap, weight, ece_term)`` —
    ``sum(ece_term)`` is the Expected Calibration Error (Naeini 2015).
    A well-calibrated gate has accuracy ~= confidence per bin; a
    miscalibrated one silently over/under-filters at its threshold.

    ``bin`` is ``floor(score * bins)`` with score 1.0 folded into the
    top bin; scores outside [0, 1] or null score/label rows are
    dropped. Scale shape: ONE full-scan hash aggregation to
    bin-cardinality rows; the total for the weights is a 1-row
    broadcast scalar join.
    """
    if bins < 1:
        raise ValueError("bins must be >= 1")
    base = sdf.select(
        F.col(score_col).cast("double").alias("__s__"),
        F.col(label_col).cast("int").alias("__y__"),
    ).where(
        F.col("__s__").between(0.0, 1.0) & F.col("__y__").isNotNull()
    )
    b = F.least(
        F.floor(F.col("__s__") * bins).cast("int"), F.lit(bins - 1)
    )
    per = (
        base.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__s__").alias("__conf__"),
            F.avg(F.col("__y__").cast("double")).alias("__acc__"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per.agg(F.sum("n").alias("__N__"))
    j = per.crossJoin(F.broadcast(tot))
    gap = F.abs(F.col("__acc__") - F.col("__conf__"))
    weight = F.col("n").cast("double") / F.col("__N__")
    return j.select(
        "bin",
        "n",
        F.round("__conf__", 6).alias("confidence"),
        F.round("__acc__", 6).alias("accuracy"),
        F.round(gap, 6).alias("gap"),
        F.round(weight, 6).alias("weight"),
        F.round(weight * gap, 6).alias("ece_term"),
    )


def cohens_kappa(sdf: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa between two categorical label columns as a 1-row
    frame ``(kappa, po, pe, n)`` — the chance-corrected agreement
    score for double-annotated data (two labelers, or a model vs a
    gold set) before the labels gate a corpus.

    ``po`` is observed agreement, ``pe`` the expected agreement of the
    two marginal distributions; ``kappa = (po - pe) / (1 - pe)``, null
    when ``pe == 1`` (both raters constant — agreement is undefined).
    Rows with a null on either side are dropped.

    Scale shape: the checkpointed observed contingency cells of
    ``drift._contingency_cells`` (class^2-sized, the raw table streams
    through once) — n/po and both marginals are cell-sized re-aggs of
    it, the pe numerator a class-sized join, the assembly a 1-row
    scalar join. Nothing row-sized collects.
    """
    from .drift import _contingency_cells

    cont = _contingency_cells(sdf, col_a, col_b)
    obs = cont.agg(
        F.sum("__o__").alias("__n__"),
        (
            F.sum(
                F.when(F.col("__a__") == F.col("__b__"), F.col("__o__"))
                .otherwise(F.lit(0))
                .cast("double")
            )
            / F.sum("__o__")
        ).alias("__po__"),
    )
    pa = cont.groupBy("__a__").agg(F.sum("__o__").alias("__ca__"))
    pb = cont.groupBy("__b__").agg(F.sum("__o__").alias("__cb__"))
    pe_num = pa.join(
        F.broadcast(pb), pa["__a__"] == pb["__b__"], "inner"
    ).agg(
        F.coalesce(
            F.sum(F.col("__ca__").cast("double") * F.col("__cb__")),
            F.lit(0.0),
        ).alias("__pe_num__")
    )
    j = obs.crossJoin(F.broadcast(pe_num))
    n = F.col("__n__").cast("double")
    pe = F.col("__pe_num__") / (n * n)
    return j.select(
        F.round(
            F.when(pe < 1.0, (F.col("__po__") - pe) / (1.0 - pe)), 6
        ).alias("kappa"),
        F.round("__po__", 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.col("__n__").cast("bigint").alias("n"),
    )


def confusion_at(
    sdf: DataFrame, score_col: str, label_col: str, threshold: float = 0.5
) -> DataFrame:
    """Confusion matrix + precision/recall/F1 at ``score >= threshold``
    as a 1-row frame — ONE full-scan aggregation, mergeable partials.
    Null scores/labels are dropped; zero denominators yield null
    metrics rather than division errors."""
    base = sdf.select(
        F.col(score_col).cast("double").alias("__s__"),
        F.col(label_col).cast("int").alias("__y__"),
    ).where(F.col("__s__").isNotNull() & F.col("__y__").isNotNull())
    pred = (F.col("__s__") >= F.lit(float(threshold))).cast("int")
    y = F.col("__y__")
    agg = base.agg(
        F.sum(pred * y).alias("tp"),
        F.sum(pred * (1 - y)).alias("fp"),
        F.sum((1 - pred) * (1 - y)).alias("tn"),
        F.sum((1 - pred) * y).alias("fn"),
    )
    tp, fp, fn = [F.col(c).cast("double") for c in ("tp", "fp", "fn")]
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return agg.select(
        "tp", "fp", "tn", "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def fleiss_kappa(sdf: DataFrame, item_col: str, category_col: str) -> DataFrame:
    """Fleiss' kappa over a long-form ratings table (one row per
    rating) as a 1-row frame ``(kappa, p_bar, p_e, n_items,
    n_raters)`` — the multi-rater generalization of
    :func:`cohens_kappa` for crowd-labeled corpora: N items each rated
    by the same number ``n`` of (anonymous, interchangeable) raters
    into categories.

    ``P_i = (sum_j n_ij^2 - n) / (n (n-1))`` is item agreement,
    ``p_bar`` its mean, ``p_e = sum_j p_j^2`` the chance agreement of
    the pooled category marginals, ``kappa = (p_bar - p_e) /
    (1 - p_e)`` (null when ``p_e == 1``: every rating in one
    category). Rows with a null item or category are dropped; raises
    if items carry unequal rating counts (Fleiss is undefined there —
    pre-filter to a fixed panel size first) or if ``n < 2``.

    Scale shape: ONE full-scan hash aggregation to (item, category)
    cells, one item-sized re-agg for the per-item sums (+ the
    equal-``n`` validation on its min/max), one category-sized re-agg
    for the marginals, then 1-row broadcast assembly. Nothing
    row-sized collects; driver state is two scalars.
    """
    base = sdf.select(
        F.col(item_col).alias("__i__"),
        F.col(category_col).cast("string").alias("__c__"),
    ).where(F.col("__i__").isNotNull() & F.col("__c__").isNotNull())
    cells = (
        base.groupBy("__i__", "__c__")
        .agg(F.count(F.lit(1)).alias("__nij__"))
        .localCheckpoint(eager=False)
    )
    per_item = cells.groupBy("__i__").agg(
        F.sum("__nij__").alias("__n__"),
        F.sum(F.col("__nij__") * F.col("__nij__")).alias("__sq__"),
    ).localCheckpoint(eager=False)
    chk = per_item.agg(
        F.min("__n__").alias("lo"), F.max("__n__").alias("hi"),
        F.count(F.lit(1)).alias("items"),
    ).collect()[0]
    if chk["items"] == 0:
        raise ValueError("fleiss_kappa: no complete ratings")
    if chk["lo"] != chk["hi"]:
        raise ValueError(
            f"fleiss_kappa: unequal ratings per item (min {chk['lo']}, "
            f"max {chk['hi']}) — Fleiss' kappa needs a fixed panel size"
        )
    n = int(chk["lo"])
    if n < 2:
        raise ValueError("fleiss_kappa: needs >= 2 ratings per item")
    pbar = per_item.agg(
        F.avg(
            (F.col("__sq__") - F.col("__n__")).cast("double")
            / float(n * (n - 1))
        ).alias("__pbar__"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )
    marg = cells.groupBy("__c__").agg(F.sum("__nij__").alias("__cj__"))
    pe = marg.crossJoin(
        F.broadcast(marg.agg(F.sum("__cj__").alias("__t__")))
    ).agg(
        F.sum(
            (F.col("__cj__") / F.col("__t__"))
            * (F.col("__cj__") / F.col("__t__"))
        ).alias("__pe__")
    )
    j = pbar.crossJoin(F.broadcast(pe))
    kappa = F.when(
        F.col("__pe__") < 1.0,
        (F.col("__pbar__") - F.col("__pe__")) / (1.0 - F.col("__pe__")),
    )
    return j.select(
        F.round(kappa, 6).alias("kappa"),
        F.round("__pbar__", 6).alias("p_bar"),
        F.round("__pe__", 6).alias("p_e"),
        F.col("n_items"),
        F.lit(n).cast("bigint").alias("n_raters"),
    )


def _ngram_array(col, n: int, char_level: bool = False):
    """Array of order-``n`` grams of a token array (word grams joined
    by spaces) or of a string (character grams); empty when the input
    is shorter than ``n``. Shared by corpus_bleu / rouge_n / chrf."""
    if char_level:
        ln = F.length(col)
        unit = lambda i: F.substring(col, i, n)  # noqa: E731
    else:
        ln = F.size(col)
        unit = lambda i: F.concat_ws(" ", F.slice(col, i, n))  # noqa: E731
    return F.when(
        ln >= n,
        F.transform(F.sequence(F.lit(1), ln - n + 1), unit),
    ).otherwise(F.array().cast("array<string>"))


def _gram_side_counts(base, cand_expr, ref_expr, orders,
                      char_level: bool = False):
    """(pid, order, gram) -> (cand_count, ref_count): the union of
    per-(order, side) explodes carries a side-flag literal, and ONE
    gram-keyed hash aggregation computes BOTH side counts as
    conditional sums — the shared side-counts scaffold of the three
    generation-eval metrics (r8 opt: replaces the former two separate
    aggs plus a (pid, order, gram)-keyed shuffle-join of the gram
    table). Clipped overlap semantics are unchanged: a gram absent on
    one side aggregates a 0 count there, and ``least(cc, 0) = 0``
    contributes exactly what the former left-join + coalesce did.
    The explode stays per-(order, side) — an A/B of a single explode
    over one concatenated struct array measured chrf 1.7x SLOWER
    (per-element struct wrap + array copy of every char gram), so
    ``base`` must arrive checkpointed when its construction is
    non-trivial (all three callers checkpoint the tokenize/strip
    projection shared by the 2 * |orders| branches)."""
    per = [
        base.select(
            "__pid__",
            F.lit(n).alias("__n__"),
            F.lit(flag).alias("__c__"),
            F.explode(_ngram_array(expr, n, char_level)).alias("__g__"),
        )
        for flag, expr in ((1, cand_expr), (0, ref_expr))
        for n in orders
    ]
    un = per[0]
    for p in per[1:]:
        un = un.unionByName(p)
    return un.groupBy("__pid__", "__n__", "__g__").agg(
        F.sum("__c__").alias("__cc__"),
        F.sum(F.lit(1) - F.col("__c__")).alias("__rc__"),
    )


def corpus_bleu(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
    max_n: int = 4,
) -> DataFrame:
    """Corpus-level BLEU of a candidate-text column against a
    (single) reference-text column as a 1-row frame ``(bleu, bp,
    p1..pN, cand_len, ref_len)`` — Papineni et al.'s exact definition
    on whitespace tokens: per-order modified precision ``p_n`` pools
    clipped n-gram matches over the WHOLE corpus (never a per-sentence
    mean), brevity penalty ``bp = min(1, exp(1 - r/c))`` from the
    total token lengths, ``bleu = bp * exp(mean_n ln p_n)`` and 0 when
    any ``p_n`` is 0 (unsmoothed). Rows with a null on either side are
    dropped. Tokenization is ``\\s+`` split of the trimmed text —
    deliberately engine-replayable (a SQL oracle reproduces it
    exactly).

    Scale shape: BOTH sides explode to (pair, order, gram) side counts
    in ONE map pass + ONE hash aggregation (shuffle keyed on the
    high-cardinality gram tuple — no skew pole; clipped matches are
    ``least`` of the two side counts, no join), and everything after
    is ``max_n`` rows wide: one conditional-sum scalar aggregate
    assembles every ``p_n`` plus both lengths (the total token counts
    ARE the order-1 gram counts, so no separate length pass). No
    per-row Python, no driver collect of row data.
    """
    if max_n < 1:
        raise ValueError("max_n must be >= 1")
    toks = lambda c: F.split(F.trim(F.col(c)), r"\s+")  # noqa: E731
    # localCheckpoint shares one tokenization pass across the
    # per-(order, side) gram branches (and freezes the map-side
    # mi_ids they key on)
    base = pairs.where(
        F.col(cand_col).isNotNull() & F.col(ref_col).isNotNull()
    ).select(
        F.monotonically_increasing_id().alias("__pid__"),
        toks(cand_col).alias("__ct__"),
        toks(ref_col).alias("__rt__"),
    ).localCheckpoint(eager=False)

    rng = range(1, max_n + 1)
    sc = _gram_side_counts(base, F.col("__ct__"), F.col("__rt__"), rng)
    clip = F.least(F.col("__cc__"), F.col("__rc__"))
    per_order = [
        F.sum(F.when(F.col("__n__") == n, clip).otherwise(F.lit(0)))
        .alias(f"__m{n}__")
        for n in range(1, max_n + 1)
    ] + [
        F.sum(F.when(F.col("__n__") == n, F.col("__cc__")).otherwise(F.lit(0)))
        .alias(f"__t{n}__")
        for n in range(1, max_n + 1)
    ] + [
        # total tokens per side = that side's order-1 gram count (an
        # empty token array yields no grams AND size 0 — identical sum)
        F.coalesce(
            F.sum(F.when(F.col("__n__") == 1, F.col("__cc__"))), F.lit(0)
        ).alias("__cl__"),
        F.coalesce(
            F.sum(F.when(F.col("__n__") == 1, F.col("__rc__"))), F.lit(0)
        ).alias("__rl__"),
    ]
    row = sc.agg(*per_order)
    ps = [
        F.when(
            F.col(f"__t{n}__") > 0,
            F.col(f"__m{n}__").cast("double") / F.col(f"__t{n}__"),
        )
        for n in range(1, max_n + 1)
    ]
    c_len = F.col("__cl__").cast("double")
    r_len = F.col("__rl__").cast("double")
    bp = F.when(c_len >= r_len, F.lit(1.0)).otherwise(
        F.exp(1.0 - r_len / c_len)
    )
    all_pos = ps[0].isNotNull() & (ps[0] > 0)
    log_sum = F.log(ps[0])
    for p in ps[1:]:
        all_pos = all_pos & p.isNotNull() & (p > 0)
        log_sum = log_sum + F.log(p)
    bleu = F.when(c_len > 0, F.when(
        all_pos, bp * F.exp(log_sum / float(max_n))
    ).otherwise(F.lit(0.0)))
    return row.select(
        F.round(bleu, 6).alias("bleu"),
        F.round(F.when(c_len > 0, bp), 6).alias("bp"),
        *[
            F.round(ps[n - 1], 6).alias(f"p{n}")
            for n in range(1, max_n + 1)
        ],
        F.col("__cl__").cast("bigint").alias("cand_len"),
        F.col("__rl__").cast("bigint").alias("ref_len"),
    )


def pr_curve(sdf: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Full precision-recall table at EVERY distinct score threshold
    (predict positive when ``score >= threshold``) — the operating-
    point picker that one-number AUC and the single-threshold
    confusion matrix can't give: ``(threshold, tp, fp, precision,
    recall, f1)``, one row per distinct score, thresholds descending
    in recall order. ``label_col`` must be 0/1 (or boolean); null
    scores/labels are dropped; zero denominators yield null metrics.

    Scale shape: scores reduce to per-distinct-score (count,
    positives) in ONE hash aggregation, the descending cumulative
    tp/fp ride the windowless bucket prefix-sum pass (same plan as
    :func:`auc`), and totals fold back from the final bucket — output
    and every intermediate are distinct-score-sized, never row-sized.
    """
    from .ranking import with_global_cumagg

    base = sdf.select(
        F.col(score_col).cast("double").alias("__s__"),
        F.col(label_col).cast("int").alias("__y__"),
    ).where(F.col("__s__").isNotNull() & F.col("__y__").isNotNull())
    per = base.groupBy("__s__").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.sum("__y__").alias("__np__"),
    ).withColumn("__nn__", F.col("__n__") - F.col("__np__"))
    # descending-score running totals: order by -score ascending
    cum = with_global_cumagg(
        per.withColumn("__negs__", -F.col("__s__")),
        ["__negs__"],
        [("__np__", "sum", "__tp__"), ("__nn__", "sum", "__fp__")],
    )
    tot = cum.agg(
        F.coalesce(F.sum("__np__"), F.lit(0)).alias("__p__"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    tp, fp = F.col("__tp__").cast("double"), F.col("__fp__").cast("double")
    p = F.col("__p__").cast("double")
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(p > 0, tp / p)
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return j.select(
        F.col("__s__").alias("threshold"),
        F.col("__tp__").cast("bigint").alias("tp"),
        F.col("__fp__").cast("bigint").alias("fp"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def rouge_n(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
    orders: "tuple[int, ...]" = (1, 2),
) -> DataFrame:
    """Corpus mean ROUGE-N of a candidate-text column against a single
    reference column, as a 1-row frame with ``rouge{n}_recall /
    _precision / _f1`` per order plus ``n_pairs`` — the
    recall-oriented complement of :func:`corpus_bleu` (Lin 2004
    semantics: per-PAIR clipped n-gram overlap scored, then the
    UNWEIGHTED mean over pairs, unlike BLEU's corpus pooling). A pair
    whose side has no order-n grams scores 0 for that order (the
    rouge_score convention); f1 is 0 when p + r == 0. Null rows drop;
    tokenization is the same engine-replayable ``\\s+`` split.

    Scale shape: per-(pair, order, gram) side counts for BOTH sides in
    ONE map pass + ONE hash aggregation (gram-keyed, no skew pole;
    clipped overlaps are ``least`` of the side counts, no join)
    re-aggregated to (pair, order), the per-pair denominators computed
    from token LENGTHS (no second gram pass), and the corpus means one
    scalar aggregate.
    """
    orders = tuple(sorted(set(int(n) for n in orders)))
    if not orders or orders[0] < 1:
        raise ValueError("orders must be positive ints")
    max_n = orders[-1]
    toks = lambda c: F.split(F.trim(F.col(c)), r"\s+")  # noqa: E731
    # localCheckpoint shares one tokenization pass between the gram
    # side and the per-pair length side (and freezes the map-side
    # mi_ids the two consumers key on)
    base = pairs.where(
        F.col(cand_col).isNotNull() & F.col(ref_col).isNotNull()
    ).select(
        F.monotonically_increasing_id().alias("__pid__"),
        toks(cand_col).alias("__ct__"),
        toks(ref_col).alias("__rt__"),
    ).localCheckpoint(eager=False)

    sc = _gram_side_counts(base, F.col("__ct__"), F.col("__rt__"), orders)
    ov = (
        sc.groupBy("__pid__", "__n__")
        .agg(F.sum(F.least(F.col("__cc__"), F.col("__rc__"))).alias("__m__"))
    )
    # per-pair gram totals from token lengths — no second gram pass
    lens = base.select(
        "__pid__",
        *[
            F.greatest(F.size("__ct__") - n + 1, F.lit(0)).alias(f"__tc{n}__")
            for n in orders
        ],
        *[
            F.greatest(F.size("__rt__") - n + 1, F.lit(0)).alias(f"__tr{n}__")
            for n in orders
        ],
    )
    per_pair = lens
    for n in orders:
        o = ov.where(F.col("__n__") == n).select(
            "__pid__", F.col("__m__").alias(f"__m{n}__")
        )
        per_pair = per_pair.join(o, "__pid__", "left")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_pairs")]
    sel = []
    for n in orders:
        m = F.coalesce(F.col(f"__m{n}__"), F.lit(0)).cast("double")
        tc = F.col(f"__tc{n}__")
        tr = F.col(f"__tr{n}__")
        r = F.when(tr > 0, m / tr).otherwise(F.lit(0.0))
        p = F.when(tc > 0, m / tc).otherwise(F.lit(0.0))
        f = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
        aggs += [
            F.avg(r).alias(f"__r{n}__"),
            F.avg(p).alias(f"__p{n}__"),
            F.avg(f).alias(f"__f{n}__"),
        ]
        sel += [
            F.round(F.col(f"__r{n}__"), 6).alias(f"rouge{n}_recall"),
            F.round(F.col(f"__p{n}__"), 6).alias(f"rouge{n}_precision"),
            F.round(F.col(f"__f{n}__"), 6).alias(f"rouge{n}_f1"),
        ]
    out = per_pair.agg(*aggs)
    return out.select(*sel, "n_pairs")


def chrf(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
    max_n: int = 4,
    beta: float = 2.0,
) -> DataFrame:
    """Corpus chrF (Popović 2015) of a candidate-text column against a
    single reference column as a 1-row frame ``(chrf, prec, rec,
    cand_len, ref_len)`` — the character-level complement of
    :func:`corpus_bleu`/:func:`rouge_n` that rewards partial word
    matches (morphology, typos) token metrics score 0: whitespace is
    stripped, clipped character n-gram matches pool over the WHOLE
    corpus per order 1..``max_n``, ``prec``/``rec`` are the
    unweighted means of the per-order precisions/recalls (an order
    with no grams on the denominator side contributes 0), and
    ``chrf = (1 + beta^2) * P * R / (beta^2 * P + R)`` (0 when
    ``P + R == 0``), ``beta = 2`` weighting recall double. Null rows
    drop.

    Scale shape: identical to :func:`corpus_bleu` — BOTH sides explode
    to (pair, order, gram) side counts in ONE map pass + ONE hash
    aggregation keyed on the gram tuple (clipped matches are ``least``
    of the side counts, no join), one conditional-sum scalar
    aggregate; per-order char-gram totals and both char lengths ARE
    the per-order/order-1 gram-count sums, engine-replayable
    arithmetic throughout.
    """
    if max_n < 1:
        raise ValueError("max_n must be >= 1")
    if beta <= 0:
        raise ValueError("beta must be > 0")
    strip = lambda c: F.regexp_replace(F.col(c), r"\s+", "")  # noqa: E731
    # localCheckpoint shares one strip pass across the per-(order,
    # side) gram branches (and freezes the map-side mi_ids)
    base = pairs.where(
        F.col(cand_col).isNotNull() & F.col(ref_col).isNotNull()
    ).select(
        F.monotonically_increasing_id().alias("__pid__"),
        strip(cand_col).alias("__cs__"),
        strip(ref_col).alias("__rs__"),
    ).localCheckpoint(eager=False)

    rng = range(1, max_n + 1)
    sc = _gram_side_counts(
        base, F.col("__cs__"), F.col("__rs__"), rng, char_level=True
    )
    clip = F.least(F.col("__cc__"), F.col("__rc__"))
    row = sc.agg(
        *[
            F.sum(F.when(F.col("__n__") == n, clip).otherwise(F.lit(0)))
            .alias(f"__m{n}__")
            for n in range(1, max_n + 1)
        ],
        # per-order gram totals per side = the side-count sums (a
        # string shorter than n yields no grams AND a 0 length term —
        # identical sums); char lengths are the order-1 totals
        *[
            F.coalesce(
                F.sum(F.when(F.col("__n__") == n, F.col("__cc__"))),
                F.lit(0),
            ).alias(f"__tc{n}__")
            for n in range(1, max_n + 1)
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("__n__") == n, F.col("__rc__"))),
                F.lit(0),
            ).alias(f"__tr{n}__")
            for n in range(1, max_n + 1)
        ],
    ).withColumn("__cl__", F.col("__tc1__")).withColumn(
        "__rl__", F.col("__tr1__")
    )
    pn = [
        F.when(
            F.col(f"__tc{n}__") > 0,
            F.col(f"__m{n}__").cast("double") / F.col(f"__tc{n}__"),
        ).otherwise(F.lit(0.0))
        for n in range(1, max_n + 1)
    ]
    rn = [
        F.when(
            F.col(f"__tr{n}__") > 0,
            F.col(f"__m{n}__").cast("double") / F.col(f"__tr{n}__"),
        ).otherwise(F.lit(0.0))
        for n in range(1, max_n + 1)
    ]
    P = sum(pn[1:], pn[0]) / float(max_n)
    R = sum(rn[1:], rn[0]) / float(max_n)
    b2 = float(beta) * float(beta)
    score = F.when(
        P + R > 0, (1.0 + b2) * P * R / (b2 * P + R)
    ).otherwise(F.lit(0.0))
    return row.select(
        F.round(score, 6).alias("chrf"),
        F.round(P, 6).alias("prec"),
        F.round(R, 6).alias("rec"),
        F.col("__cl__").cast("bigint").alias("cand_len"),
        F.col("__rl__").cast("bigint").alias("ref_len"),
    )


def forecast_metrics(
    sdf: DataFrame,
    actual_col: str,
    pred_col: str,
    order_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Per-series forecast scorecard: sMAPE, MAE, and MASE (Hyndman &
    Koehler 2006) — the scale-free trio a forecast-quality gate needs
    (plain MAPE explodes at zero actuals; MASE compares against the
    in-sample naive lag-1 forecast instead).

    - ``smape`` = mean of ``2|a-p| / (|a|+|p|)`` (term = 0 when both
      are 0 — the standard convention), in [0, 2];
    - ``mae`` = mean ``|a-p|``;
    - ``mase`` = mean ``|a-p|`` / mean ``|a_t - a_{t-1}|`` over the
      naive lag pairs in ``order_col`` order — the standard Hyndman &
      Koehler normalization, so MASE < 1 means "beats the in-sample
      naive forecast" (null when the series has < 2 points or a
      constant history).

    Cross-engine exactness: every per-row term is quantized to an
    INTEGER nano (``round(term * 1e9)``) before aggregation, so sums
    are order-free exact integers (the unigram/ngram_lm contract) and
    only the final ratios are floats, rounded to 6dp. The int64 nano
    bound is the magnitude CONTRACT: per-row terms (|a - p| and the
    naive |a_t - a_{t-1}|) must stay below ~9.2e9 or the quantized
    cast overflows under ANSI — rescale unit-heavy series (epoch
    nanos, micro-currency) before scoring. Rows with null actual/pred
    drop from smape/mae; the naive denominator uses every non-null
    actual.

    Scale shape: ONE keyed window (the lag) sharing the group
    partitioning with the final hash aggregation — no global
    exchange, skew bounded by the hottest series.
    """
    from pyspark.sql import Window

    groups = list(group_cols or [])
    a, p = F.col(actual_col).cast("double"), F.col(pred_col).cast("double")
    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
        F.col(order_col).asc()
    )
    prev = F.lag(a).over(w)
    staged = sdf.select(
        *groups,
        a.alias("__a__"),
        p.alias("__p__"),
        prev.alias("__prev__"),
    )
    both = F.col("__a__").isNotNull() & F.col("__p__").isNotNull()
    ad = F.abs(F.col("__a__") - F.col("__p__"))
    denom = F.abs(F.col("__a__")) + F.abs(F.col("__p__"))
    smape_term = F.when(
        both,
        F.when(denom > 0, F.lit(2.0) * ad / denom).otherwise(F.lit(0.0)),
    )
    nano = F.lit(1000000000.0)
    q = lambda c: F.round(c * nano).cast("bigint")  # noqa: E731
    naive = F.when(
        F.col("__a__").isNotNull() & F.col("__prev__").isNotNull(),
        F.abs(F.col("__a__") - F.col("__prev__")),
    )
    agg = staged.groupBy(*groups).agg(
        F.count(F.when(both, 1)).cast("long").alias("n"),
        F.sum(q(smape_term)).alias("__ss__"),
        F.sum(q(F.when(both, ad))).alias("__sa__"),
        F.sum(q(naive)).alias("__sn__"),
        F.count(naive).cast("long").alias("__nn__"),
    )
    return agg.select(
        *groups,
        "n",
        F.round(F.col("__ss__").cast("double") / F.col("n") / nano, 6).alias(
            "smape"
        ),
        F.round(F.col("__sa__").cast("double") / F.col("n") / nano, 6).alias(
            "mae"
        ),
        F.when(
            (F.col("__nn__") > 0) & (F.col("__sn__") > 0),
            F.round(
                (F.col("__sa__").cast("double") / F.col("n"))
                / (F.col("__sn__").cast("double") / F.col("__nn__")),
                6,
            ),
        ).alias("mase"),
    )
