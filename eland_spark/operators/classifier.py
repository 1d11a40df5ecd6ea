"""In-engine linear text-classifier TRAINING (fastText-style).

`text.linear_classifier_score` scores documents with a broadcast
weight table; this module trains those weights inside the engine:
logistic regression on hashed bag-of-token features, full-batch
gradient descent where every iteration is two joins + two hash
aggregations — pure DataFrame ops, no MLlib, no driver-side data
besides the (n_buckets+1)-vector of weights.

Scale shape: the token->bucket feature table is materialized ONCE
(one explode + one (doc, bucket) aggregation, localCheckpoint) and
re-scanned per iteration; each iteration shuffles on the doc id and
the bucket id only. At 100 TB this is the standard distributed
full-batch LR: iters * (2 scans of the cached features + 2 bounded
shuffles), weights live on the driver (model-sized, not data-sized).

``portable=True`` hashes buckets with md5 so a SQL oracle can replay
the ENTIRE training run (each iteration's gradient is expressible as
a chained CTE over the same feature rows).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F

from .._literals import array_lit

__all__ = [
    "hashed_features",
    "train_linear_classifier",
    "score_hashed_classifier",
]


def _bucket(tok, n_buckets: int, portable: bool):
    if portable:
        raw = F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")
    else:
        raw = F.xxhash64(tok)
    return F.pmod(raw, F.lit(n_buckets)).cast("int")


def hashed_features(
    sdf: SparkDataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 1 << 12,
    portable: bool = False,
) -> SparkDataFrame:
    """(id, bucket, x) sparse feature rows: x = count of the doc's
    tokens landing in the bucket / the doc's token count (mean-pooled
    bag of hashed tokens — the fastText input layer). One explode +
    one (doc, bucket) hash aggregation; empty docs yield no rows."""
    from .dedup import normalized_tokens

    toks = sdf.select(
        F.col(id_col).alias("__id__"),
        normalized_tokens(F.col(text_col)).alias("__toks__"),
    ).where(F.size("__toks__") > 0)
    rows = toks.select(
        "__id__",
        F.size("__toks__").alias("__n__"),
        F.explode("__toks__").alias("__t__"),
    )
    return (
        rows.groupBy(
            "__id__", _bucket(F.col("__t__"), n_buckets, portable).alias("bucket")
        )
        .agg((F.count(F.lit(1)) / F.first("__n__")).alias("x"))
        .select(F.col("__id__").alias("id"), "bucket", "x")
    )


def train_linear_classifier(
    sdf: SparkDataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 1 << 12,
    iters: int = 5,
    lr: float = 2.0,
    portable: bool = False,
):
    """Full-batch logistic regression on hashed token features.

    ``label_col`` must be 0/1 (cast applied). Returns
    (weights: list[float] length n_buckets, intercept: float) for
    :func:`score_hashed_classifier`. Deterministic given the data
    (aggregation sums are order-insensitive to double precision).
    """
    # labels is a narrow projection of the source (column pruning +
    # pushdown make its re-scan per consumer cheap) — a checkpoint here
    # was one pure-overhead build-time job wave, measured no faster
    labels = sdf.select(
        F.col(id_col).alias("id"),
        F.col(label_col).cast("double").alias("y"),
    )
    # intercept = synthetic bucket -1 with x=1 on EVERY row: its weight
    # is the bias and its gradient is sum(residual) — one aggregation
    # job per iteration covers weights and intercept together
    feats = (
        hashed_features(sdf, text_col, id_col, n_buckets, portable)
        .unionByName(
            labels.select("id", F.lit(-1).alias("bucket"), F.lit(1.0).alias("x"))
        )
        .localCheckpoint(eager=False)
    )
    # n (the labeled-row count) is NOT a separate count() job: every
    # labeled row contributes exactly one intercept row (bucket -1,
    # x=1), so the first gradient collect's count for bucket -1 IS n —
    # one job wave saved per training call
    n: "int | None" = None
    w: dict[int, float] = {}
    for _ in range(iters):
        if w:
            # weights as ONE dense array literal looked up by bucket
            # (intercept in slot 1, bucket b in slot b + 2): no join,
            # and the build cost does not grow with n_buckets
            dense = [w.get(b, 0.0) for b in range(-1, n_buckets)]
            warr = array_lit(dense, "double")
            scores = feats.groupBy("id").agg(
                F.sum(
                    F.element_at(warr, F.col("bucket") + 2) * F.col("x")
                ).alias("s")
            )
            resid = labels.join(scores, "id", "left").select(
                "id",
                (
                    F.lit(1.0)
                    / (F.lit(1.0) + F.exp(-F.coalesce(F.col("s"), F.lit(0.0))))
                    - F.col("y")
                ).alias("r"),
            )
        else:
            # first iteration: every score is exactly 0, so
            # sigmoid(0) - y == 0.5 - y — same floats, no self-join
            resid = labels.select(
                "id", (F.lit(0.5) - F.col("y")).alias("r")
            )
        grad_rows = (
            feats.join(resid, "id")
            .groupBy("bucket")
            .agg(
                F.sum(F.col("r") * F.col("x")).alias("g"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        if n is None:
            n = next(
                (int(row["c"]) for row in grad_rows if row["bucket"] == -1), 0
            ) or 1
        for row in grad_rows:
            w[row["bucket"]] = w.get(row["bucket"], 0.0) - lr * row["g"] / n
    dense = [0.0] * n_buckets
    for b, v in w.items():
        if b >= 0:
            dense[b] = v
    return dense, w.get(-1, 0.0)


def score_hashed_classifier(
    text,
    weights: list[float],
    intercept: float = 0.0,
    portable: bool = False,
):
    """Column expression: sigmoid(intercept + mean-pooled hashed-bucket
    weights of the text's tokens) — the inference twin of
    :func:`train_linear_classifier`, a zero-shuffle scan predicate
    like text.linear_classifier_score (weights ship as ONE array
    literal built by a constant number of gateway commands; at 2^12
    buckets the plan carries ~32 KB of doubles)."""
    from .dedup import normalized_tokens

    n_buckets = len(weights)
    toks = normalized_tokens(text)
    warr = array_lit([float(x) for x in weights], "double")
    s = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(warr, _bucket(t, n_buckets, portable) + 1),
    )
    mean = F.when(F.size(toks) > 0, s / F.size(toks)).otherwise(F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-(mean + F.lit(float(intercept)))))
