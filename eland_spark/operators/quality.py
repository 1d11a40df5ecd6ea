"""Declarative data-quality verification (Deequ-style).

No reference analog (eland has no data-quality layer); modeled on the
published unit-test-for-data design of Schelter et al., "Automating
Large-Scale Data Quality Verification" (VLDB 2018) — the system behind
AWS Deequ. A ``Check`` declares constraints; ``verify`` computes every
row-level metric in ONE aggregation pass over the table (mergeable
partial aggregates — the 100 TB path), plus one hash aggregation per
uniqueness constraint and one broadcast join per referential-integrity
constraint. The verdict frame is constraint-sized, never data-sized,
and the pieces combine by union (no join between metric frames).

``profile`` is the companion single-pass column profiler: completeness,
distinct count, min/max, mean, and average string length for every
column in one scan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["Check", "verify", "profile"]

_ROUND = 6  # metric rounding, matches the repo-wide oracle convention


class Check:
    """Ordered collection of declarative constraints over one table.

    Each ``is_*``/``has_*``/``satisfies`` call appends a constraint and
    returns ``self`` so checks chain fluently. Thresholds are plain
    numbers (not callables) so an external engine can replay the exact
    pass/fail rule — the repo's DuckDB oracles depend on that.
    """

    def __init__(self, name: str):
        self.name = name
        self.specs: list[dict] = []

    # -- row-level constraints: all folded into one aggregation pass --

    def is_complete(self, column: str, min_ratio: float = 1.0) -> "Check":
        """Fraction of non-null values in ``column`` >= ``min_ratio``."""
        self.specs.append({
            "kind": "completeness", "label": f"completeness({column})",
            "column": column, "min_ratio": float(min_ratio),
        })
        return self

    def has_min(self, column: str, at_least: float) -> "Check":
        self.specs.append({
            "kind": "min", "label": f"min({column})",
            "column": column, "at_least": float(at_least),
        })
        return self

    def has_max(self, column: str, at_most: float) -> "Check":
        self.specs.append({
            "kind": "max", "label": f"max({column})",
            "column": column, "at_most": float(at_most),
        })
        return self

    def has_mean(self, column: str, between: tuple) -> "Check":
        lo, hi = between
        self.specs.append({
            "kind": "mean", "label": f"mean({column})",
            "column": column, "lo": float(lo), "hi": float(hi),
        })
        return self

    def has_size(self, between: tuple) -> "Check":
        lo, hi = between
        self.specs.append({
            "kind": "size", "label": "size()",
            "lo": float(lo), "hi": float(hi),
        })
        return self

    def satisfies(self, predicate_sql: str, name: str,
                  min_ratio: float = 1.0) -> "Check":
        """Fraction of rows satisfying a SQL predicate >= ``min_ratio``.
        Rows where the predicate is NULL count as non-compliant (the
        Deequ convention: a constraint you cannot evaluate is not met).
        """
        self.specs.append({
            "kind": "compliance", "label": f"compliance({name})",
            "predicate": predicate_sql, "min_ratio": float(min_ratio),
        })
        return self

    def is_contained_in(self, column: str, allowed: Sequence,
                        min_ratio: float = 1.0) -> "Check":
        vals = ", ".join(_sql_literal(v) for v in allowed)
        return self.satisfies(
            f"{_bt(column)} IN ({vals})", f"{column} IN ({vals})",
            min_ratio=min_ratio,
        )

    def has_pattern(self, column: str, regex: str,
                    min_ratio: float = 1.0) -> "Check":
        self.specs.append({
            "kind": "pattern", "label": f"pattern({column})",
            "column": column, "regex": regex,
            "min_ratio": float(min_ratio),
        })
        return self

    # -- constraints needing their own (still bounded) jobs --

    def is_unique(self, *columns: str, min_ratio: float = 1.0) -> "Check":
        """Deequ uniqueness: fraction of rows whose key combination
        occurs exactly once. 1.0 means the columns form a key. One
        hash aggregation on the key (map-side partials), then a
        constraint-sized reduce."""
        self.specs.append({
            "kind": "uniqueness",
            "label": f"uniqueness({', '.join(columns)})",
            "columns": list(columns), "min_ratio": float(min_ratio),
        })
        return self

    def is_referenced_in(self, column: str, dim: DataFrame, dim_column: str,
                         min_ratio: float = 1.0) -> "Check":
        """Referential integrity: fraction of non-null FK values present
        in ``dim[dim_column]``. The distinct dim keys are broadcast, so
        the fact table is never shuffled."""
        self.specs.append({
            "kind": "referential",
            "label": f"referenced({column} -> {dim_column})",
            "column": column, "dim": dim, "dim_column": dim_column,
            "min_ratio": float(min_ratio),
        })
        return self


def _bt(col: str) -> str:
    return "`" + col.replace("`", "``") + "`"


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v)


def _ratio(cond: Column) -> Column:
    """avg of a nullable boolean with NULL counted as False."""
    return F.avg(F.coalesce(cond, F.lit(False)).cast("double"))


def verify(sdf: DataFrame, check: Check) -> DataFrame:
    """Evaluate every constraint of ``check`` against ``sdf``.

    Returns a constraint-sized frame ``(constraint, metric, passed)``
    in declaration order is NOT guaranteed — sort on ``constraint`` if
    you need determinism. Metrics are rounded to 6 decimals so an
    external engine reproduces them bit-for-bit.

    Plan shape: one full-scan aggregation carrying ALL row-level
    metrics (completeness/min/max/mean/size/compliance/pattern), plus
    one ``groupBy(key)`` aggregation per uniqueness constraint and one
    broadcast left-join aggregation per referential constraint; the
    per-constraint single-row frames are combined by ``unionByName``
    (a zero-cost plan node), never a join.
    """
    row_specs = [s for s in check.specs
                 if s["kind"] in ("completeness", "min", "max", "mean",
                                  "size", "compliance", "pattern")]
    pieces: list[DataFrame] = []

    if row_specs:
        aggs, finishers = [], []
        for i, s in enumerate(row_specs):
            a = f"__m{i}__"
            k = s["kind"]
            if k == "completeness":
                aggs.append(_ratio(F.col(s["column"]).isNotNull()).alias(a))
                passed = F.col(a) >= F.lit(s["min_ratio"])
            elif k == "min":
                aggs.append(F.min(F.col(s["column"]).cast("double")).alias(a))
                passed = F.col(a) >= F.lit(s["at_least"])
            elif k == "max":
                aggs.append(F.max(F.col(s["column"]).cast("double")).alias(a))
                passed = F.col(a) <= F.lit(s["at_most"])
            elif k == "mean":
                aggs.append(F.avg(F.col(s["column"])).alias(a))
                passed = (F.col(a) >= F.lit(s["lo"])) & (F.col(a) <= F.lit(s["hi"]))
            elif k == "size":
                aggs.append(F.count(F.lit(1)).cast("double").alias(a))
                passed = (F.col(a) >= F.lit(s["lo"])) & (F.col(a) <= F.lit(s["hi"]))
            elif k == "compliance":
                aggs.append(_ratio(F.expr(s["predicate"])).alias(a))
                passed = F.col(a) >= F.lit(s["min_ratio"])
            else:  # pattern
                aggs.append(_ratio(F.col(s["column"]).rlike(s["regex"])).alias(a))
                passed = F.col(a) >= F.lit(s["min_ratio"])
            finishers.append(F.struct(
                F.lit(s["label"]).alias("constraint"),
                F.round(F.col(a), _ROUND).alias("metric"),
                F.coalesce(passed, F.lit(False)).alias("passed"),
            ))
        one = sdf.agg(*aggs)
        pieces.append(
            one.select(F.explode(F.array(*finishers)).alias("r"))
               .select("r.constraint", "r.metric", "r.passed")
        )

    for s in check.specs:
        if s["kind"] == "uniqueness":
            key = [F.col(c) for c in s["columns"]]
            grouped = sdf.groupBy(*key).agg(F.count(F.lit(1)).alias("__n__"))
            m = grouped.agg(
                (F.sum(F.when(F.col("__n__") == 1, F.lit(1)).otherwise(F.lit(0)))
                 / F.sum("__n__")).alias("__u__")
            ).select(
                F.lit(s["label"]).alias("constraint"),
                F.round(F.col("__u__"), _ROUND).alias("metric"),
                F.coalesce(F.col("__u__") >= F.lit(s["min_ratio"]),
                           F.lit(False)).alias("passed"),
            )
            pieces.append(m)
        elif s["kind"] == "referential":
            dim_keys = (s["dim"].select(F.col(s["dim_column"]).alias("__dk__"))
                        .where(F.col("__dk__").isNotNull()).distinct())
            fk = F.col(s["column"])
            joined = (sdf.where(fk.isNotNull())
                      .select(fk.alias("__fk__"))
                      .join(F.broadcast(dim_keys),
                            F.col("__fk__") == F.col("__dk__"), "left"))
            m = joined.agg(
                _ratio(F.col("__dk__").isNotNull()).alias("__c__")
            ).select(
                F.lit(s["label"]).alias("constraint"),
                F.round(F.col("__c__"), _ROUND).alias("metric"),
                F.coalesce(F.col("__c__") >= F.lit(s["min_ratio"]),
                           F.lit(False)).alias("passed"),
            )
            pieces.append(m)

    if not pieces:
        raise ValueError(f"check '{check.name}' declares no constraints")
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def profile(sdf: DataFrame, columns: Optional[Sequence[str]] = None,
            approx_distinct: bool = False) -> DataFrame:
    """Single-pass column profiler: one full-scan aggregation computes
    completeness, distinct count, min/max (stringified for a uniform
    schema), mean (numerics only), and average string length (strings
    only) for every requested column; the single metrics row explodes
    into one row per column.

    ``approx_distinct=True`` (the variant to run at 100 TB) keeps
    everything in ONE scan: HLL sketches merge into the same hash
    aggregation as the other metrics. Exact mode runs TWO scans —
    measured: mixing ``count(DISTINCT ...)`` (which Catalyst plans via
    Expand + grouping-id FILTERs) with string min/max buffers in one
    aggregate forces a whole-input SortAggregate (~5x slower than the
    two hash passes); the distinct counts therefore get their own
    expand-based hash aggregate and the two single-row results combine
    by a broadcast of one row.
    """
    cols = list(columns) if columns is not None else list(sdf.columns)
    dtypes = dict(sdf.dtypes)
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double",
               "decimal"}
    aggs, d_aggs, finishers = [], [], []
    for i, c in enumerate(cols):
        dt = dtypes[c]
        base = dt.split("(")[0]
        col = F.col(c)
        aggs.append(_ratio(col.isNotNull()).alias(f"__comp{i}__"))
        if approx_distinct:
            aggs.append(F.approx_count_distinct(col).alias(f"__nd{i}__"))
        else:
            d_aggs.append(F.count_distinct(col).alias(f"__nd{i}__"))
        aggs.append(F.min(col).cast("string").alias(f"__min{i}__"))
        aggs.append(F.max(col).cast("string").alias(f"__max{i}__"))
        if base in numeric:
            aggs.append(F.round(F.avg(col), _ROUND).alias(f"__mean{i}__"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__mean{i}__"))
        if base == "string":
            aggs.append(F.round(F.avg(F.length(col)), _ROUND)
                        .alias(f"__len{i}__"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__len{i}__"))
        finishers.append(F.struct(
            F.lit(c).alias("column"), F.lit(dt).alias("dtype"),
            F.round(F.col(f"__comp{i}__"), _ROUND).alias("completeness"),
            F.col(f"__nd{i}__").alias("n_distinct"),
            F.col(f"__min{i}__").alias("min_value"),
            F.col(f"__max{i}__").alias("max_value"),
            F.col(f"__mean{i}__").alias("mean"),
            F.col(f"__len{i}__").alias("avg_len"),
        ))
    one = sdf.agg(*aggs)
    if d_aggs:
        one = one.crossJoin(F.broadcast(sdf.agg(*d_aggs)))
    return (one.select(F.explode(F.array(*finishers)).alias("r"))
               .select("r.column", "r.dtype", "r.completeness",
                       "r.n_distinct", "r.min_value", "r.max_value",
                       "r.mean", "r.avg_len"))
