"""Histogram operator.

Reference: two roundtrips — min/max agg, then a server-side histogram agg
with interval=(max-min)/bins offset=min, folding ES's one extra trailing
bucket into the previous (eland/operations.py:470-556, fold at 546-552).
Spark version: same two passes, bucketing via a codegen'd
floor((x-min)/interval) groupBy — no UDF, scales as a single shuffle on
at most ``bins`` distinct keys.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..frame import DataFrame


def histogram(df: DataFrame, column: str, bins: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """Returns (bin_edges[bins+1], counts[bins]) like np.histogram."""
    col = F.col(df._schema.resolve(column))
    row = df._sdf.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    if row["lo"] is None or row["hi"] is None:
        # empty / all-null column: match np.histogram([]) — unit-range
        # edges, zero counts
        return np.linspace(0.0, 1.0, bins + 1), np.zeros(bins, dtype="int64")
    lo, hi = float(row["lo"]), float(row["hi"])
    if lo == hi:
        edges = np.linspace(lo - 0.5, hi + 0.5, bins + 1)
        interval = edges[1] - edges[0]
        base = edges[0]
    else:
        interval = (hi - lo) / bins
        base = lo
        edges = np.array([base + i * interval for i in range(bins + 1)])
    bucket = F.floor((col - F.lit(base)) / F.lit(interval)).cast("long")
    # the max value lands in bucket==bins: fold into the last real bucket
    # (reference's extra-bucket fold, eland/operations.py:546-552)
    bucket = F.when(bucket >= bins, bins - 1).otherwise(bucket)
    rows = (
        df._sdf.filter(col.isNotNull())
        .groupBy(bucket.alias("b"))
        .count()
        .collect()
    )
    counts = np.zeros(bins, dtype="int64")
    for r in rows:
        if r["b"] is not None and 0 <= r["b"] < bins:
            counts[r["b"]] = r["count"]
    return edges, counts


def hist_matrix(
    df: DataFrame, bins: int = 10
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """All-numeric-column histograms in exactly TWO jobs regardless of
    column count (the reference's two-roundtrip contract,
    eland/operations.py:470-556): one batched min/max aggregate, then
    one aggregate producing every column's bin-count array via
    conditional sums. Returns {column: (edges, counts)}."""
    fields = [f for f in df._schema.fields if f.is_numeric]
    if not fields:
        return {}
    # job 1: min/max for every column at once
    mm_exprs = []
    for f in fields:
        c = F.col(f.column_name)
        mm_exprs += [F.min(c).alias(f"lo__{f.display_name}"),
                     F.max(c).alias(f"hi__{f.display_name}")]
    mm = df._sdf.agg(*mm_exprs).collect()[0]

    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    cnt_exprs = []
    live = []
    for f in fields:
        lo, hi = mm[f"lo__{f.display_name}"], mm[f"hi__{f.display_name}"]
        if lo is None or hi is None:
            out[f.display_name] = (
                np.linspace(0.0, 1.0, bins + 1), np.zeros(bins, dtype="int64")
            )
            continue
        lo, hi = float(lo), float(hi)
        if lo == hi:
            edges = np.linspace(lo - 0.5, hi + 0.5, bins + 1)
        else:
            edges = np.array([lo + i * (hi - lo) / bins for i in range(bins + 1)])
        interval = edges[1] - edges[0]
        c = F.col(f.column_name)
        bucket = F.floor((c - F.lit(float(edges[0]))) / F.lit(float(interval))).cast("long")
        bucket = F.when(bucket >= bins, bins - 1).otherwise(bucket)
        cnt_exprs.append(
            F.array(
                *[
                    F.sum(F.when(c.isNotNull() & (bucket == i), 1).otherwise(0))
                    for i in range(bins)
                ]
            ).alias(f"n__{f.display_name}")
        )
        live.append((f, edges))
    if cnt_exprs:
        # job 2: every column's bin counts in one Aggregate
        row = df._sdf.agg(*cnt_exprs).collect()[0]
        for f, edges in live:
            counts = np.asarray(row[f"n__{f.display_name}"], dtype="int64")
            out[f.display_name] = (edges, counts)
    return out
