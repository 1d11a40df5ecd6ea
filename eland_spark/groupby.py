"""GroupBy — composite-aggregation analog.

Reference: eland/groupby.py (DataFrameGroupBy agg methods) compiled to a
paginated ES composite aggregation (eland/operations.py:822-1053). Here a
single ``df.groupBy(keys).agg(exprs)`` covers the whole lifecycle —
Spark's partial/final hash aggregation replaces shard/coordinator merge,
and the shuffle exchange replaces ``after_key`` pagination.

dropna semantics: ES composite drops null-key buckets unless
``missing_bucket: true`` (eland/query.py:253-261); Spark groupBy KEEPS
null keys — the default is inverted, so ``dropna=True`` adds explicit
``isNotNull`` filters.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .frame import DataFrame

if TYPE_CHECKING:
    pass

__all__ = ["DataFrameGroupBy"]


class DataFrameGroupBy:
    def __init__(self, frame: DataFrame, by: list[str], dropna: bool = True):
        self._frame = frame
        self._by = by
        self._dropna = dropna

    # ------------------------------------------------------------------
    def _grouped_sdf(self):
        sdf = self._frame._sdf
        schema = self._frame._schema
        if self._dropna:
            for b in self._by:
                sdf = sdf.filter(F.col(schema.resolve(b)).isNotNull())
        key_cols = [F.col(schema.resolve(b)).alias(b) for b in self._by]
        return sdf, key_cols

    def _agg_fields(self, numeric_only: bool | None, agg: str):
        schema = self._frame._schema
        return [
            f
            for f in schema.numeric_fields(numeric_only, agg)
            if f.display_name not in self._by and f.is_agg_compatible(agg)
        ]

    def _lazy(self, exprs) -> DataFrame:
        sdf, keys = self._grouped_sdf()
        out = sdf.groupBy(*keys).agg(*exprs)
        return DataFrame(out, index_cols=tuple(self._by))

    def _run(self, funcs: list[str], numeric_only: bool | None, approx: bool = False,
             multi_cols: bool | None = None) -> pd.DataFrame:
        """One groupBy job for the full (field x agg) matrix; result is a
        pandas frame indexed by keys with MultiIndex columns on multi-agg
        (reference shape, eland/operations.py:995-1003)."""
        exprs = []
        per_func_fields = {a: self._agg_fields(numeric_only, a) for a in funcs}
        for a in funcs:
            for f in per_func_fields[a]:
                exprs.append(
                    self._frame._agg_expr(a, f, approx).alias(f"{a}__{f.display_name}")
                )
        pdf = self._lazy(exprs).to_spark().toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        if multi_cols is None:
            multi_cols = len(funcs) > 1
        if multi_cols:
            pdf.columns = pd.MultiIndex.from_tuples(
                [tuple(reversed(c.split("__", 1))) for c in pdf.columns]
            )
            # order columns field-major like the reference
            fields = []
            for a in funcs:
                for f in per_func_fields[a]:
                    if f.display_name not in fields:
                        fields.append(f.display_name)
            pdf = pdf[[(fld, a) for fld in fields for a in funcs if (fld, a) in pdf.columns]]
        else:
            pdf.columns = [c.split("__", 1)[1] for c in pdf.columns]
        return pdf

    # -- public agg methods (reference eland/groupby.py:47-699) ---------
    def aggregate(
        self, funcs=None, numeric_only: bool | None = None, **named
    ) -> pd.DataFrame:
        """Alias of :meth:`agg` (reference eland/groupby.py aggregate)."""
        return self.agg(funcs, numeric_only=numeric_only, **named)

    def agg(
        self, funcs=None, numeric_only: bool | None = None, **named
    ) -> pd.DataFrame:
        if named:
            if funcs is not None:
                raise TypeError("pass either positional funcs or named aggs")
            return self._run_named(named)
        if isinstance(funcs, dict):
            return self._run_dict(funcs)
        funcs = [funcs] if isinstance(funcs, str) else list(funcs)
        return self._run(funcs, numeric_only)

    aggregate = agg

    def _run_named(self, named: dict) -> pd.DataFrame:
        """pandas named aggregation: ``agg(total=('col', 'sum'))`` —
        one groupBy job, output columns named by the caller."""
        schema = self._frame._schema
        exprs = []
        for out_name, spec in named.items():
            if not (isinstance(spec, tuple) and len(spec) == 2):
                raise TypeError(
                    f"named agg {out_name!r} must be a (column, func) tuple"
                )
            col, fn = spec
            if col not in schema:
                raise KeyError(col)
            exprs.append(
                self._frame._agg_expr(fn, schema.field(col)).alias(out_name)
            )
        pdf = self._lazy(exprs).to_spark().toPandas()
        return pdf.set_index(
            self._by if len(self._by) > 1 else self._by[0]
        ).sort_index()

    def _run_dict(self, spec: dict) -> pd.DataFrame:
        """pandas dict-form agg: {column: func | [funcs]} — still ONE
        groupBy job for every (column, func) pair. Flat columns when
        every value is a single func (pandas shape), MultiIndex
        (column, func) otherwise."""
        schema = self._frame._schema
        pairs: list[tuple[str, str]] = []
        any_list = False
        for col, fns in spec.items():
            if col not in schema:
                raise KeyError(col)
            if isinstance(fns, (list, tuple)):
                any_list = True
                pairs.extend((col, a) for a in fns)
            else:
                pairs.append((col, fns))
        exprs = [
            self._frame._agg_expr(a, schema.field(col)).alias(f"{a}__{col}")
            for col, a in pairs
        ]
        pdf = self._lazy(exprs).to_spark().toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        if any_list:
            pdf.columns = pd.MultiIndex.from_tuples(
                [tuple(reversed(c.split("__", 1))) for c in pdf.columns]
            )
            pdf = pdf[[(col, a) for col, a in pairs]]
        else:
            pdf.columns = [c.split("__", 1)[1] for c in pdf.columns]
            pdf = pdf[[col for col, _ in pairs]]
        return pdf

    def sum(self, numeric_only=True):
        return self._run(["sum"], numeric_only)

    def min(self, numeric_only=True):
        return self._run(["min"], numeric_only)

    def max(self, numeric_only=True):
        return self._run(["max"], numeric_only)

    def mean(self, numeric_only=True):
        return self._run(["mean"], numeric_only)

    def std(self, numeric_only=True):
        return self._run(["std"], numeric_only)

    def var(self, numeric_only=True):
        return self._run(["var"], numeric_only)

    def sem(self, numeric_only=True):
        """Per-group standard error of the mean (reference
        NotImplementedError, eland/operations.py:1144-1146)."""
        return self._run(["sem"], numeric_only)

    def median(self, numeric_only=True):
        return self._run(["median"], numeric_only)

    def skew(self, numeric_only=True):
        """Per-group sample-adjusted skewness (pandas G1) — one keyed
        hash aggregation, partial/final combine like every other agg."""
        return self._run(["skew"], numeric_only)

    def kurt(self, numeric_only=True):
        """Per-group sample-adjusted excess kurtosis (pandas G2)."""
        return self._run(["kurt"], numeric_only)

    kurtosis = kurt

    def prod(self, numeric_only=True):
        """Per-group product (empty-group identity 1, pandas parity)."""
        return self._run(["prod"], numeric_only)

    product = prod

    def any(self, numeric_only=True):
        """Per-group truthiness OR (bool_or over ``col != 0``)."""
        return self._run(["any"], numeric_only)

    def all(self, numeric_only=True):
        """Per-group truthiness AND (bool_and over ``col != 0``)."""
        return self._run(["all"], numeric_only)

    def describe(self, numeric_only=True) -> pd.DataFrame:
        """pandas ``groupby().describe()``: the 8-stat summary per
        group, still ONE groupBy job (the full stat x column matrix in
        a single aggregate pass; quantiles exact like frame
        describe)."""
        schema = self._frame._schema
        fields = self._agg_fields(numeric_only, "describe")
        fields = [f for f in fields if f.is_numeric]
        if not fields:
            raise ValueError("no numeric columns to describe")
        exprs = []
        for f in fields:
            c = F.col(f.column_name)
            ps = F.percentile(
                c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            )
            exprs += [
                F.count(c).cast("double").alias(f"{f.display_name}__count"),
                F.avg(c).alias(f"{f.display_name}__mean"),
                F.stddev_samp(c).alias(f"{f.display_name}__std"),
                F.min(c).cast("double").alias(f"{f.display_name}__min"),
                F.element_at(ps, 1).alias(f"{f.display_name}__25%"),
                F.element_at(ps, 2).alias(f"{f.display_name}__50%"),
                F.element_at(ps, 3).alias(f"{f.display_name}__75%"),
                F.max(c).cast("double").alias(f"{f.display_name}__max"),
            ]
        pdf = self._lazy(exprs).to_spark().toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        pdf.columns = pd.MultiIndex.from_tuples(
            [tuple(c.split("__", 1)) for c in pdf.columns]
        )
        return pdf

    def nunique(self):
        return self._run(["nunique"], None)

    def count(self):
        """Per-column non-null counts per group (reference maps count ->
        value_count per field, eland/operations.py:1102-1103)."""
        return self._run(["count"], None)

    def size(self) -> pd.Series:
        sdf, keys = self._grouped_sdf()
        pdf = sdf.groupBy(*keys).count().toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        return pdf["count"]

    def apply_pandas(self, fn, schema) -> DataFrame:
        """Group-level Python escape hatch (pandas ``groupby().apply``):
        ``fn(pd.DataFrame) -> pd.DataFrame`` per group via
        ``applyInPandas`` — Arrow transfer, one hash shuffle on the
        keys, groups processed in parallel across executors. The fn
        sees the group's rows with display-name columns; its output
        must match ``schema``.

        SCALE WARNING: this is a whole-group Python hop — on a skewed
        key one executor holds the largest group in pandas memory, the
        slowest shape in the library at 100x data. Prefer the
        expression-based paths whenever they can express the logic:
        the named agg methods (``mean``/``sum``/``quantile``/...) for
        reductions, :meth:`transform` for per-row group-broadcast
        values, and ``transform`` + a frame filter for aggregate
        predicates — all JVM-side, no per-group materialization."""
        sdf, keys = self._grouped_sdf()
        display = [f.display_name for f in self._frame._schema.fields]
        resolved = [
            F.col(self._frame._schema.resolve(d)).alias(d) for d in display
        ]
        out = sdf.select(*resolved).groupBy(
            *[F.col(b) for b in self._by]
        ).applyInPandas(fn, schema)
        kept = tuple(c for c in self._frame.index_cols if c in out.columns)
        return DataFrame(out, index_cols=kept or tuple(self._by))

    def head(self, n: int = 5) -> DataFrame:
        """First ``n`` rows of every group in index order (pandas
        ``groupby().head``): row_number window over the group keys —
        one hash shuffle, no per-group driver loop."""
        return self._nth_slice(lambda rn: rn <= n)

    def nth(self, k: int) -> DataFrame:
        """The k-th row (0-based, index order) of every group; groups
        with fewer rows are dropped (pandas nth without dropna
        nuances)."""
        return self._nth_slice(lambda rn: rn == k + 1)

    def tail(self, n: int = 5) -> DataFrame:
        """Last ``n`` rows of every group in index order (pandas
        ``groupby().tail``): same one-shuffle row_number plan as
        ``head``, ranked descending."""
        return self._nth_slice(lambda rn: rn <= n, desc=True)

    def first(self) -> pd.DataFrame:
        """pandas ``groupby().first``: every column's value from the
        group's first row by index order — ONE min_by aggregate per
        column keyed on the index struct (single hash shuffle, no
        window, no per-group state)."""
        return self._edge_row(is_first=True)

    def last(self) -> pd.DataFrame:
        """pandas ``groupby().last``: the index-order twin of
        :meth:`first` via max_by."""
        return self._edge_row(is_first=False)

    def _edge_row(self, is_first: bool) -> pd.DataFrame:
        schema = self._frame._schema
        if not schema.index_cols:
            raise ValueError("groupby first/last needs an index for row order")
        sdf, keys = self._grouped_sdf()
        ikey = F.struct(
            *[F.col(schema.resolve_any(c)) for c in schema.index_cols]
        )
        fn = F.min_by if is_first else F.max_by
        by_set = set(self._by)
        aggs = [
            fn(F.col(f.column_name), ikey).alias(f.display_name)
            for f in schema.fields
            if f.display_name not in by_set
        ]
        pdf = sdf.groupBy(*keys).agg(*aggs).toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        return pdf

    def _nth_slice(self, pred, desc: bool = False) -> DataFrame:
        from pyspark.sql import Window

        schema = self._frame._schema
        if not schema.index_cols:
            raise ValueError("groupby head/nth needs an index for row order")
        sdf, keys = self._grouped_sdf()
        order = [
            F.col(schema.resolve_any(c)).desc() if desc else F.col(schema.resolve_any(c)).asc()
            for c in schema.index_cols
        ]
        w = Window.partitionBy(*keys).orderBy(*order)
        display = [
            F.col(f.column_name).alias(f.display_name) for f in schema.fields
        ]
        out = (
            sdf.withColumn("__rn__", F.row_number().over(w))
            .filter(pred(F.col("__rn__")))
            .select(*display)
        )
        return DataFrame(out, index_cols=tuple(schema.index_cols))

    def filter(self, fn) -> DataFrame:
        """pandas ``groupby().filter``: keep the rows of every group
        for which ``fn(group_pdf) -> bool`` — one keyed shuffle via
        applyInPandas, groups evaluated in parallel.

        SCALE WARNING: whole-group Python; a skewed key serializes its
        biggest group through one executor's pandas heap. When the
        predicate compares an aggregate (``sum(x) > k``, ``len(g) >=
        n``), express it JVM-side instead: ``transform`` the aggregate
        onto each row and filter the frame on it (same one shuffle, no
        Python), or groupBy+semi-join. Reserve this for genuinely
        row-pattern-dependent predicates."""
        schema = self._frame._schema
        display = [f.display_name for f in schema.fields]
        resolved = [F.col(schema.resolve(d)).alias(d) for d in display]
        out_schema = T.StructType(
            [
                T.StructField(f.display_name, f.spark_type)
                for f in schema.fields
            ]
        )

        def wrap(pdf):
            return pdf if fn(pdf) else pdf.iloc[0:0]

        sdf, keys = self._grouped_sdf()
        out = (
            sdf.select(*resolved)
            .groupBy(*[F.col(b) for b in self._by])
            .applyInPandas(wrap, out_schema)
        )
        kept = tuple(c for c in self._frame.index_cols if c in out.columns)
        return DataFrame(out, index_cols=kept)

    def filter_expr(self, expr: str) -> DataFrame:
        """JVM-side aggregate-predicate group filter — the scale path
        :meth:`filter`'s docstring points to: ``expr`` is a SQL boolean
        over aggregates of the group (HAVING semantics, e.g.
        ``"sum(o_totalprice) > 1e6 AND count(*) >= 5"``). Plan: one
        keyed aggregation producing the keep-set of group keys, then a
        semi-join back — the keep-set is tiny relative to the data, so
        AQE promotes the join to broadcast; zero Python, no per-group
        materialization, safe on skewed keys where :meth:`filter`
        would serialize the biggest group through one executor's
        pandas heap."""
        schema = self._frame._schema
        sdf, _ = self._grouped_sdf()
        # work in display-name space so expr uses user-visible names
        disp = sdf.select(
            *[F.col(f.column_name).alias(f.display_name) for f in schema.fields]
        )
        keep = (
            disp.groupBy(*[F.col(b) for b in self._by])
            .agg(F.expr(expr).alias("__keep__"))
            .filter(F.col("__keep__"))
            .drop("__keep__")
        )
        left, right = disp.alias("__l__"), keep.alias("__r__")
        cond = None
        for b in self._by:
            c = F.col(f"__l__.{b}").eqNullSafe(F.col(f"__r__.{b}"))
            cond = c if cond is None else (cond & c)
        out = left.join(right, on=cond, how="left_semi")
        return DataFrame(out, index_cols=tuple(self._frame.index_cols))

    def transform(self, func: str, numeric_only: bool | None = True) -> DataFrame:
        """Group-broadcast aggregation: every row gets its group's
        aggregate (pandas ``groupby().transform``; net-new — the
        reference has no window surface, SURVEY §2.7). Compiled to
        ``Window.partitionBy(keys)`` with no orderBy: one hash shuffle
        on the group keys plus a local sort, no global sort and no
        join-back — the same exchange any keyed agg pays at 100 TB.

        Returns a lazy frame of the parent's index columns plus one
        transformed column per agg-compatible field. With
        ``dropna=True`` (the pandas default), rows whose group key is
        null get a null result instead of forming their own group."""
        from pyspark.sql import Window

        fn_map = {
            "sum": F.sum,
            "min": F.min,
            "max": F.max,
            "mean": F.avg,
            "count": F.count,
            "std": F.stddev_samp,
            "var": F.var_samp,
            "nunique": lambda c: F.size(F.collect_set(c)),
        }
        if func not in fn_map:
            raise ValueError(
                f"transform func {func!r} not supported; one of {sorted(fn_map)}"
            )
        schema = self._frame._schema
        index_cols = set(self._frame.index_cols)
        fields = [
            f
            for f in self._agg_fields(numeric_only, func)
            if f.display_name not in index_cols
        ]
        if not fields:
            raise ValueError("no agg-compatible columns to transform")
        sdf = self._frame._sdf
        w = Window.partitionBy(*[F.col(schema.resolve(b)) for b in self._by])
        keys_ok = None
        if self._dropna:
            for b in self._by:
                c = F.col(schema.resolve(b)).isNotNull()
                keys_ok = c if keys_ok is None else (keys_ok & c)
        out_cols = [
            F.col(schema.resolve(ic)).alias(ic) for ic in self._frame.index_cols
        ]
        for f in fields:
            c = F.col(f.column_name)
            if func == "nunique":
                # the window must wrap the aggregate, not the size()
                expr = F.size(F.collect_set(c).over(w))
            else:
                expr = fn_map[func](c).over(w)
            if func == "sum":
                # pandas: sum of an all-null group is 0, not null
                expr = F.coalesce(expr, F.lit(0))
            if keys_ok is not None:
                expr = F.when(keys_ok, expr)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            sdf.select(*out_cols), index_cols=tuple(self._frame.index_cols)
        )

    def _ordered_window(self):
        """Per-group window ordered by the parent's index — the scalable
        shape for group-local order ops (partitionBy keys: one balanced
        hash shuffle, never an empty-PARTITION-BY global window)."""
        from pyspark.sql import Window

        schema = self._frame._schema
        icols = list(self._frame.index_cols)
        if not icols:
            raise ValueError("group cumsum/shift need an index for ordering")
        w = Window.partitionBy(
            *[F.col(schema.resolve(b)) for b in self._by]
        ).orderBy(*[F.col(schema.resolve_any(c)).asc() for c in icols])
        return w, schema, icols

    def _null_keys_guard(self, schema):
        keys_ok = None
        if self._dropna:
            for b in self._by:
                c = F.col(schema.resolve(b)).isNotNull()
                keys_ok = c if keys_ok is None else (keys_ok & c)
        return keys_ok

    def _group_cumagg(self, agg: str, numeric_only):
        from pyspark.sql import Window

        w, schema, icols = self._ordered_window()
        wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fn = {"sum": F.sum, "max": F.max, "min": F.min}[agg]
        index_cols = set(icols)
        fields = [
            f
            for f in self._agg_fields(numeric_only, f"cum{agg}")
            if f.display_name not in index_cols
        ]
        if not fields:
            raise ValueError("no agg-compatible columns")
        keys_ok = self._null_keys_guard(schema)
        out_cols = [F.col(schema.resolve_any(ic)).alias(ic) for ic in icols]
        for f in fields:
            c = F.col(f.column_name)
            # skipna: null rows stay null, the run continues
            expr = F.when(c.isNotNull(), fn(c).over(wf))
            if keys_ok is not None:
                expr = F.when(keys_ok, expr)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            self._frame._sdf.select(*out_cols), index_cols=tuple(icols)
        )

    def cumsum(self, numeric_only=True):
        """pandas ``groupby().cumsum``: per-group running sum in index
        order — ONE keyed window (hash shuffle on the group keys + local
        sort), sequential within each group so results are exact."""
        return self._group_cumagg("sum", numeric_only)

    def cummax(self, numeric_only=True):
        """pandas ``groupby().cummax`` — same keyed-window plan."""
        return self._group_cumagg("max", numeric_only)

    def cummin(self, numeric_only=True):
        """pandas ``groupby().cummin`` — same keyed-window plan."""
        return self._group_cumagg("min", numeric_only)

    def shift(self, periods: int = 1, numeric_only=False):
        """pandas ``groupby().shift``: each row gets the value
        ``periods`` positions earlier within its group (index order);
        negative periods look forward. One keyed window — lag/lead never
        crosses group boundaries, so no global order is needed."""
        w, schema, icols = self._ordered_window()
        index_cols = set(icols)
        # pandas shifts EVERY non-key column (strings included) — lag
        # is type-agnostic, so bypass the agg-compat filter
        pool = (
            schema.numeric_fields(True, "shift")
            if numeric_only
            else list(schema.fields)
        )
        fields = [
            f
            for f in pool
            if f.display_name not in index_cols and f.display_name not in self._by
        ]
        if not fields:
            raise ValueError("no columns to shift")
        keys_ok = self._null_keys_guard(schema)
        out_cols = [F.col(schema.resolve_any(ic)).alias(ic) for ic in icols]
        for f in fields:
            c = F.col(f.column_name)
            expr = (
                F.lag(c, periods).over(w)
                if periods >= 0
                else F.lead(c, -periods).over(w)
            )
            if keys_ok is not None:
                expr = F.when(keys_ok, expr)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            self._frame._sdf.select(*out_cols), index_cols=tuple(icols)
        )

    def diff(self, periods: int = 1, numeric_only=True):
        """pandas ``groupby().diff``: value minus the value ``periods``
        rows earlier within the group (index order) — one keyed window
        (hash shuffle on the group keys), lag never crosses groups."""
        return self._lag_combine(
            periods, numeric_only, lambda c, prev: c - prev, "diff"
        )

    def pct_change(self, periods: int = 1, numeric_only=True):
        """pandas ``groupby().pct_change``: fractional change vs the
        row ``periods`` earlier in the group — same one-window plan as
        :meth:`diff`."""
        from .series import Series

        return self._lag_combine(
            periods,
            numeric_only,
            # pandas: prev==0 -> ±inf / NaN (IEEE), not an ANSI error
            lambda c, prev: Series._ieee_div(c, prev) - 1,
            "pct_change",
        )

    def _lag_combine(self, periods: int, numeric_only, combine, opname: str):
        w, schema, icols = self._ordered_window()
        index_cols = set(icols)
        fields = [
            f
            for f in self._agg_fields(numeric_only, opname)
            if f.display_name not in index_cols and f.is_numeric
        ]
        if not fields:
            raise ValueError(f"no numeric columns for {opname}")
        keys_ok = self._null_keys_guard(schema)
        out_cols = [F.col(schema.resolve_any(ic)).alias(ic) for ic in icols]
        for f in fields:
            c = F.col(f.column_name)
            prev = (
                F.lag(c, periods).over(w)
                if periods >= 0
                else F.lead(c, -periods).over(w)
            )
            expr = combine(c, prev)
            if keys_ok is not None:
                expr = F.when(keys_ok, expr)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            self._frame._sdf.select(*out_cols), index_cols=tuple(icols)
        )

    def ffill(self):
        """pandas ``groupby().ffill``: forward-fill nulls within each
        group in index order — ``last(ignorenulls)`` over the keyed
        window's unbounded-preceding frame. One hash shuffle; fills
        never leak across group boundaries."""
        return self._directional_fill(forward=True)

    def bfill(self):
        """pandas ``groupby().bfill``: backward-fill twin of
        :meth:`ffill` (``first(ignorenulls)`` over the following
        frame)."""
        return self._directional_fill(forward=False)

    def _directional_fill(self, forward: bool):
        from pyspark.sql import Window

        w, schema, icols = self._ordered_window()
        frame = (
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            if forward
            else w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        index_cols = set(icols)
        by_set = set(self._by)
        keys_ok = self._null_keys_guard(schema)
        out_cols = [F.col(schema.resolve_any(ic)).alias(ic) for ic in icols]
        for f in self._frame._schema.fields:
            if f.display_name in index_cols:
                continue
            c = F.col(f.column_name)
            if f.display_name in by_set:
                out_cols.append(c.alias(f.display_name))
                continue
            expr = (
                F.last(c, ignorenulls=True).over(frame)
                if forward
                else F.first(c, ignorenulls=True).over(frame)
            )
            if keys_ok is not None:
                expr = F.when(keys_ok, expr).otherwise(c)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            self._frame._sdf.select(*out_cols), index_cols=tuple(icols)
        )

    def ngroup(self) -> DataFrame:
        """pandas ``groupby().ngroup``: each row labelled with its
        group's number in sorted-key order. Scale shape: rank the
        DISTINCT keys (a small frame) with the windowless global-rank
        operator, then join the labels back — the full data never goes
        through a single-partition window."""
        from .operators.ranking import with_global_rank

        schema = self._frame._schema
        sdf, keys = self._grouped_sdf()
        icols = list(self._frame.index_cols)
        key_names = list(self._by)
        distinct = sdf.select(*keys).distinct()
        ranked = with_global_rank(
            distinct, key_names, rank_col="__ng__"
        ).withColumn("__ng__", (F.col("__ng__") - 1).cast("long"))
        out = (
            sdf.select(
                *[F.col(schema.resolve_any(ic)).alias(ic) for ic in icols],
                *[F.col(schema.resolve(b)).alias(b) for b in key_names],
            )
            .join(ranked, on=key_names, how="left")
            .select(*icols, F.col("__ng__").alias("ngroup"))
        )
        return DataFrame(out, index_cols=tuple(icols))

    def ohlc(self) -> pd.DataFrame:
        """pandas ``groupby().ohlc``: open/high/low/close per numeric
        column in index order — ONE aggregate pass (min_by/max_by on the
        index struct for open/close, plain min/max for low/high); no
        window, no second shuffle."""
        schema = self._frame._schema
        if not schema.index_cols:
            raise ValueError("groupby ohlc needs an index for row order")
        sdf, keys = self._grouped_sdf()
        ikey = F.struct(*[F.col(schema.resolve_any(c)) for c in schema.index_cols])
        fields = self._agg_fields(True, "ohlc")
        fields = [f for f in fields if f.is_numeric]
        if not fields:
            raise ValueError("no numeric columns for ohlc")
        aggs = []
        for f in fields:
            c = F.col(f.column_name)
            aggs += [
                F.min_by(c, ikey).alias(f"{f.display_name}__open"),
                F.max(c).alias(f"{f.display_name}__high"),
                F.min(c).alias(f"{f.display_name}__low"),
                F.max_by(c, ikey).alias(f"{f.display_name}__close"),
            ]
        pdf = sdf.groupBy(*keys).agg(*aggs).toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        pdf.columns = pd.MultiIndex.from_tuples(
            [tuple(c.rsplit("__", 1)) for c in pdf.columns]
        )
        return pdf

    def value_counts(
        self, sort: bool = True, ascending: bool = False, dropna: bool = True
    ) -> pd.Series:
        """pandas ``groupby().value_counts``: row counts per (group key,
        value-combination) — one groupBy over keys+values (single hash
        shuffle with partial aggregation), counts ordered desc within
        each group like pandas."""
        schema = self._frame._schema
        by_set = set(self._by)
        vals = [
            f.display_name
            for f in schema.fields
            if f.display_name not in by_set
            and f.display_name not in schema.index_cols
        ]
        if not vals:
            raise ValueError("no value columns for value_counts")
        sdf, keys = self._grouped_sdf()
        cols = keys + [F.col(schema.resolve(v)).alias(v) for v in vals]
        grouped = sdf.select(*cols)
        if dropna:
            for v in vals:
                grouped = grouped.filter(F.col(v).isNotNull())
        pdf = grouped.groupBy(*self._by, *vals).count().toPandas()
        names = self._by + vals
        pdf = pdf.set_index(names)
        s = pdf["count"]
        if sort:
            # pandas: sort by count within each group, then by key
            s = (
                s.reset_index()
                .sort_values(
                    self._by + ["count"],
                    ascending=[True] * len(self._by) + [ascending],
                    kind="mergesort",
                )
                .set_index(names)["count"]
            )
        else:
            s = s.sort_index()
        return s

    def corr(self, numeric_only=True) -> pd.DataFrame:
        """pandas ``groupby().corr()``: per-group pairwise Pearson
        matrix — every (group, i, j) cell in ONE hash aggregation
        (F.corr per pair; n^2/2 agg expressions, fine for the tens of
        numeric columns a frame realistically has). Result indexed
        (group, column) x column like pandas."""
        return self._pairwise(F.corr, numeric_only)

    def cov(self, numeric_only=True) -> pd.DataFrame:
        """pandas ``groupby().cov()``: per-group sample covariance
        matrix, same one-pass shape."""
        return self._pairwise(F.covar_samp, numeric_only)

    def _pairwise(self, fn, numeric_only) -> pd.DataFrame:
        fields = [f for f in self._agg_fields(numeric_only, "corr") if f.is_numeric]
        if len(fields) < 2:
            raise ValueError("need at least two numeric columns")
        names = [f.display_name for f in fields]
        exprs = []
        for i, a in enumerate(fields):
            for b in fields[i:]:
                exprs.append(
                    fn(
                        F.col(a.column_name).cast("double"),
                        F.col(b.column_name).cast("double"),
                    ).alias(f"{a.display_name}__{b.display_name}")
                )
        pdf = self._lazy(exprs).to_spark().toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        frames = {}
        for g, row in pdf.iterrows():
            m = pd.DataFrame(index=names, columns=names, dtype="float64")
            for i, a in enumerate(names):
                for b in names[i:]:
                    v = row[f"{a}__{b}"]
                    m.loc[a, b] = v
                    m.loc[b, a] = v
            frames[g] = m
        out = pd.concat(frames, names=[*self._by, None])
        out.columns.name = None
        return out

    def sample(
        self, n: int | None = None, frac: float | None = None, seed: int = 42
    ) -> DataFrame:
        """pandas ``groupby().sample``: per-group sample. ``frac`` is a
        zero-shuffle deterministic md5-threshold filter (engine-
        agnostic, like operators/sampling); ``n`` ranks rows per group
        by the md5 key and keeps the first n — one keyed window
        shuffle. Exactly one of n/frac."""
        from .operators.sampling import _md5_rank_key

        if (n is None) == (frac is None):
            raise ValueError("pass exactly one of n or frac")
        schema = self._frame._schema
        icols = list(self._frame.index_cols)
        if not icols:
            raise ValueError("groupby sample needs an index for determinism")
        idkey = F.concat_ws(
            "|", *[F.col(schema.resolve_any(c)).cast("string") for c in icols]
        )
        key = _md5_rank_key(idkey, seed)
        sdf, keys = self._grouped_sdf()
        if frac is not None:
            if not 0 <= frac <= 1:
                raise ValueError("frac must be in [0, 1]")
            out = sdf.filter(key < F.lit(float(frac) * float(16**15)))
            return DataFrame(out, index_cols=tuple(icols))
        from pyspark.sql import Window

        w = Window.partitionBy(
            *[F.col(schema.resolve(b)) for b in self._by]
        ).orderBy(key.asc(), idkey.asc())
        out = (
            sdf.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= int(n))
            .drop("__rn__")
        )
        return DataFrame(out, index_cols=tuple(icols))

    def ewm(
        self,
        alpha: float | None = None,
        span: float | None = None,
        halflife: float | None = None,
        com: float | None = None,
        min_periods: int = 0,
    ):
        """pandas ``groupby().ewm(...)``: lazy proxy with ``.mean()``.
        The infinite recursion is truncated at the kernel width where
        weights drop below double precision (exact), so it compiles to
        ONE bounded-lookback keyed window — all JVM-side; a slower
        decay than the kernel cap falls back to pandas' C kernel per
        group via Arrow (operators/windowed.ewm_mean_grouped)."""
        return _GroupEwm(self, alpha, span, halflife, com, min_periods)

    def rolling(self, window: int, min_periods: int | None = None):
        """pandas ``groupby().rolling(window)``: per-group row-based
        rolling aggregates in index order — a single keyed window with
        a bounded frame (hash shuffle on the group keys), nothing else;
        group locality makes this trivially scalable. Returns a lazy
        proxy with ``sum/mean/min/max/count``."""
        return _GroupRolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        """pandas ``groupby().expanding()``: per-group expanding
        aggregates in index order over the same keyed window."""
        return _GroupRolling(self, None, min_periods)

    def rank(
        self,
        method: str = "average",
        ascending: bool = True,
        pct: bool = False,
        numeric_only: bool = True,
    ):
        """pandas ``groupby().rank``: within-group rank of each value
        with average/min/max/first/dense tie methods; nulls rank null;
        ``pct`` divides by the group's non-null count. ONE hash shuffle
        on the group keys — the per-(key, value) tie windows are
        satisfied by the same exchange (hash clustering on the keys
        co-locates every finer partitioning), so no extra exchange.
        Returns a lazy frame of index columns + one ranked column per
        numeric field."""
        from pyspark.sql import Window

        if method not in ("average", "min", "max", "first", "dense"):
            raise ValueError("method must be average/min/max/first/dense")
        schema = self._frame._schema
        icols = list(self._frame.index_cols)
        if not icols:
            raise ValueError("rank needs an index for deterministic ties")
        keys = [F.col(schema.resolve(b)) for b in self._by]
        index_cols = set(icols)
        fields = [
            f
            for f in self._agg_fields(numeric_only, "rank")
            if f.display_name not in index_cols
        ]
        if not fields:
            raise ValueError("no rankable columns")
        keys_ok = self._null_keys_guard(schema)
        out_cols = [F.col(schema.resolve_any(ic)).alias(ic) for ic in icols]
        for f in fields:
            c = F.col(f.column_name)
            order = c.asc() if ascending else c.desc()
            # null values must not consume rank positions: windows that
            # order by the value put nulls first/last — instead rank
            # over the NON-NULL sub-partition by keying nulls apart
            null_key = c.isNull()
            wv = Window.partitionBy(*keys, null_key).orderBy(order)
            if method == "first":
                idx_order = [
                    F.col(schema.resolve(ic)).asc() for ic in icols
                ]
                expr = F.row_number().over(
                    Window.partitionBy(*keys, null_key).orderBy(order, *idx_order)
                ).cast("double")
            elif method == "dense":
                expr = F.dense_rank().over(wv).cast("double")
            elif method == "min":
                expr = F.rank().over(wv).cast("double")
            else:
                mn = F.rank().over(wv).cast("double")
                mx = mn + F.count(F.lit(1)).over(
                    Window.partitionBy(*keys, null_key, c)
                ) - 1
                expr = mx.cast("double") if method == "max" else (mn + mx) / 2
            if pct:
                den = F.count(c).over(Window.partitionBy(*keys))
                if method == "dense":
                    den = F.size(
                        F.collect_set(c).over(Window.partitionBy(*keys))
                    )
                expr = expr / den
            expr = F.when(c.isNotNull(), expr)
            if keys_ok is not None:
                expr = F.when(keys_ok, expr)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            self._frame._sdf.select(*out_cols), index_cols=tuple(icols)
        )

    def cumcount(self):
        """pandas ``groupby().cumcount``: 0-based position of each row
        within its group (index order) — row_number over the keyed
        window; null-key rows get null under dropna like the other
        group ops."""
        w, schema, icols = self._ordered_window()
        keys_ok = self._null_keys_guard(schema)
        expr = (F.row_number().over(w) - 1).cast("long")
        if keys_ok is not None:
            expr = F.when(keys_ok, expr)
        return DataFrame(
            self._frame._sdf.select(
                *[F.col(schema.resolve_any(ic)).alias(ic) for ic in icols],
                expr.alias("cumcount"),
            ),
            index_cols=tuple(icols),
        )

    def mad(self, numeric_only=True):
        """Exact per-group MAD via percentile of |x - group_median| —
        needs two passes (median join back); the reference delegates to
        ES's approximate MAD agg (eland/groupby.py). The frame is first
        normalized to display names so the self-join works after
        renames (physical column names never appear past this select)."""
        fields = self._agg_fields(numeric_only, "mad")
        sdf, keys = self._grouped_sdf()
        norm = sdf.select(
            *keys,
            *[F.col(f.column_name).alias(f.display_name) for f in fields],
        )
        meds = norm.groupBy(*[F.col(b) for b in self._by]).agg(
            *[
                F.percentile(F.col(f.display_name), F.lit(0.5)).alias(f"__med_{f.display_name}")
                for f in fields
            ]
        )
        joined = norm.join(meds, on=self._by, how="inner")
        out = joined.groupBy(*[F.col(b) for b in self._by]).agg(
            *[
                F.percentile(
                    F.abs(F.col(f.display_name) - F.col(f"__med_{f.display_name}")),
                    F.lit(0.5),
                ).alias(f.display_name)
                for f in fields
            ]
        )
        pdf = out.toPandas().set_index(
            self._by if len(self._by) > 1 else self._by[0]
        ).sort_index()
        return pdf

    def quantile(self, q=0.5, numeric_only=True):
        """List-q output grows an extra index level of quantile values
        (reference eland/operations.py:955-994)."""
        import numpy as np

        qs = [q] if np.isscalar(q) else list(q)
        fields = self._agg_fields(numeric_only, "quantile")
        exprs = []
        for f in fields:
            for qq in qs:
                exprs.append(
                    F.percentile(F.col(f.column_name), F.lit(qq)).alias(
                        f"{f.display_name}__{qq}"
                    )
                )
        pdf = self._lazy(exprs).to_spark().toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        if np.isscalar(q):
            pdf.columns = [c.rsplit("__", 1)[0] for c in pdf.columns]
            return pdf
        frames = []
        for qq in qs:
            sub = pdf[[f"{f.display_name}__{qq}" for f in fields]].copy()
            sub.columns = [f.display_name for f in fields]
            sub[None] = float(qq)
            frames.append(sub.set_index(None, append=True))
        return pd.concat(frames).sort_index()

    def mode(self, numeric_only: bool | None = False) -> pd.DataFrame:
        """Per-group per-column modal value; frequency ties resolve to
        the LOWEST value (deterministic). The reference raises
        NotImplementedError here (eland/groupby.py:701-702) — native in
        Spark via the deterministic ``mode`` aggregate: ONE hash
        aggregation over the group keys (map-side combined, no
        per-column windows, no second shuffle), the same plan shape as
        every other agg method. Nulls are excluded from the frequency
        count (pandas dropna semantics; Spark aggs skip nulls)."""
        exprs = [
            F.mode(F.col(f.column_name), True).alias(f"mode__{f.display_name}")
            for f in self._agg_fields(numeric_only, "mode")
        ]
        pdf = self._lazy(exprs).to_spark().toPandas()
        pdf = pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()
        pdf.columns = [c.split("__", 1)[1] for c in pdf.columns]
        return pdf

    def idxmax(self) -> pd.DataFrame:
        return self._idx_extreme(True)

    def idxmin(self) -> pd.DataFrame:
        return self._idx_extreme(False)

    def _idx_extreme(self, is_max: bool) -> pd.DataFrame:
        """Per-group index value of each numeric column's extreme row
        (pandas GroupBy.idxmax/idxmin; no reference analog — eland's
        idxmax is whole-frame only, eland/operations.py:207-254). Same
        single-agg ``min_by(key, struct(ordering, key))`` trick as the
        frame-level version: one hash aggregation, ties to the lowest
        index (pandas first-occurrence), nulls skipped."""
        if not self._frame._schema.index_cols:
            raise ValueError("groupby().idxmax/idxmin require an index column")
        key = self._frame._schema.index_cols[0]
        exprs = []
        for f in self._agg_fields(None, "max" if is_max else "min"):
            if not f.is_numeric:
                continue
            v = F.col(f.column_name).cast("double")
            ordering = (-v) if is_max else v
            pair = F.when(v.isNotNull(), F.struct(ordering.alias("o"), F.col(key).alias("i")))
            exprs.append(F.min_by(F.col(key), pair).alias(f.display_name))
        pdf = self._lazy(exprs).to_spark().toPandas()
        return pdf.set_index(self._by if len(self._by) > 1 else self._by[0]).sort_index()


class _GroupRolling:
    """Lazy per-group rolling/expanding proxy (``window=None`` means
    expanding). Each agg compiles to ONE keyed window — hash shuffle on
    the group keys, bounded (rolling) or unbounded-preceding
    (expanding) frame — and returns a lazy frame of the parent's index
    columns plus one column per agg-compatible field. min_periods
    follows pandas (non-null observations in the frame)."""

    def __init__(self, gb: "DataFrameGroupBy", window: int | None,
                 min_periods: int | None):
        if window is not None and window < 1:
            raise ValueError("window must be >= 1")
        self._gb = gb
        self._window = window
        self._mp = (
            min_periods
            if min_periods is not None
            else (window if window is not None else 1)
        )

    def _run(self, agg: str):
        """One keyed window for ``agg`` over every agg-compatible field
        (numeric only for skew/kurt) — the expression is
        operators/ranking._window_agg, shared with the global rolling
        kernel (same pandas min_periods and skew/kurt guards)."""
        from pyspark.sql import Window

        from .operators.ranking import _ROLLING_AGGS, _window_agg

        if agg not in _ROLLING_AGGS:
            raise ValueError(
                f"unsupported agg {agg!r}; one of {sorted(_ROLLING_AGGS)}"
            )
        gb = self._gb
        w, schema, icols = gb._ordered_window()
        lo = (
            Window.unboundedPreceding
            if self._window is None
            else -(self._window - 1)
        )
        wf = w.rowsBetween(lo, Window.currentRow)
        index_cols = set(icols)
        moments = agg in ("skew", "kurt")
        fields = [
            f
            for f in gb._agg_fields(True, agg)
            if f.display_name not in index_cols and (f.is_numeric or not moments)
        ]
        if not fields:
            raise ValueError("no agg-compatible columns")
        keys_ok = gb._null_keys_guard(schema)
        out_cols = [F.col(schema.resolve_any(ic)).alias(ic) for ic in icols]
        for f in fields:
            expr = _window_agg(F.col(f.column_name), agg, wf, self._mp)
            if keys_ok is not None:
                expr = F.when(keys_ok, expr)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            gb._frame._sdf.select(*out_cols), index_cols=tuple(icols)
        )

    def sum(self):
        return self._run("sum")

    def mean(self):
        return self._run("mean")

    def min(self):
        return self._run("min")

    def max(self):
        return self._run("max")

    def count(self):
        return self._run("count")

    def std(self):
        return self._run("std")

    def var(self):
        return self._run("var")

    def skew(self):
        """pandas ``groupby().rolling().skew()`` (expanding with
        ``window=None``) — sample-adjusted G1 per bounded per-group
        frame over the SAME keyed window as the other aggs, with the
        pandas rolling-path guards: <3 observations null, all-equal
        windows 0.0, population variance <= 1e-14 null."""
        return self._run("skew")

    def kurt(self):
        """pandas ``groupby().rolling().kurt()`` — sample-adjusted
        excess G2; <4 observations null, all-equal windows -3.0,
        variance <= 1e-14 null."""
        return self._run("kurt")

    def quantile(self, q: float = 0.5, interpolation: str = "linear"):
        """pandas ``groupby().rolling().quantile(q)`` (and, with
        ``window=None``, the expanding twin): the exact
        linear-interpolated percentile of each bounded per-group frame
        — Spark's ``percentile`` aggregate over the SAME keyed window
        as the other aggs (one hash shuffle on the group keys), which
        interpolates lower + (higher-lower)*frac exactly like pandas'
        default ``interpolation='linear'``."""
        if interpolation != "linear":
            raise NotImplementedError(
                "rolling().quantile supports interpolation='linear' only"
            )
        if not 0.0 <= float(q) <= 1.0:
            raise ValueError("q must be in [0, 1]")
        from pyspark.sql import Window

        gb = self._gb
        w, schema, icols = gb._ordered_window()
        lo = (
            Window.unboundedPreceding
            if self._window is None
            else -(self._window - 1)
        )
        wf = w.rowsBetween(lo, Window.currentRow)
        index_cols = set(icols)
        fields = [
            f
            for f in gb._agg_fields(True, "quantile")
            if f.is_numeric and f.display_name not in index_cols
        ]
        if not fields:
            raise ValueError("no agg-compatible columns")
        keys_ok = gb._null_keys_guard(schema)
        out_cols = [F.col(schema.resolve_any(ic)).alias(ic) for ic in icols]
        for f in fields:
            c = F.col(f.column_name).cast("double")
            cnt = F.count(c).over(wf)
            expr = F.when(
                cnt >= F.lit(self._mp),
                F.percentile(c, F.lit(float(q))).over(wf),
            )
            if keys_ok is not None:
                expr = F.when(keys_ok, expr)
            out_cols.append(expr.alias(f.display_name))
        return DataFrame(
            gb._frame._sdf.select(*out_cols), index_cols=tuple(icols)
        )

    def median(self):
        """pandas ``groupby().rolling().median()`` — exact, via
        ``quantile(0.5)``."""
        return self.quantile(0.5)

    def apply(self, fn, raw: bool = False) -> DataFrame:
        """pandas ``groupby().rolling().apply(fn)`` (and, with
        ``window=None``, ``groupby().expanding().apply``): arbitrary
        Python per window via ONE Arrow-batched applyInPandas over the
        existing group shuffle — pandas' own rolling/expanding runs
        per group, so min_periods/raw semantics are exact. Every
        numeric column transforms in the same pass (DOUBLE results);
        rows whose group key is null keep their row with a null
        result, matching the proxy's agg convention. Per-group state
        is the group's rows — the inherent cost of an arbitrary window
        fn (the built-in aggs stay on the keyed-window JVM path)."""
        from pyspark.sql import types as T

        gb = self._gb
        schema = gb._frame._schema
        icols = list(gb._frame.index_cols)
        if not icols:
            raise ValueError("rolling apply needs an index for ordering")
        index_cols = set(icols)
        fields = [
            f for f in gb._agg_fields(True, "apply")
            if f.is_numeric and f.display_name not in index_cols
        ]
        if not fields:
            raise ValueError("no numeric columns")
        vals = [f.display_name for f in fields]
        keycols = [f"__k{i}__" for i in range(len(gb._by))]
        ok = None
        if gb._dropna:
            for b in gb._by:
                c = F.col(schema.resolve(b)).isNotNull()
                ok = c if ok is None else (ok & c)
        base = gb._frame._sdf.select(
            *[F.col(schema.resolve_any(ic)).alias(ic) for ic in icols],
            *[
                F.col(schema.resolve(b)).alias(k)
                for b, k in zip(gb._by, keycols)
            ],
            *[F.col(f.column_name).cast("double").alias(f.display_name)
              for f in fields],
            (ok if ok is not None else F.lit(True)).alias("__ok__"),
        )
        out_schema = T.StructType(
            [f for f in base.schema.fields
             if f.name in index_cols or f.name in set(vals)]
        )
        window, mp = self._window, self._mp

        def _apply(pdf):
            pdf = pdf.sort_values(icols)
            roll = (
                pdf[vals].rolling(int(window), min_periods=int(mp))
                if window is not None
                else pdf[vals].expanding(min_periods=int(mp))
            )
            res = roll.apply(fn, raw=raw)
            res[~pdf["__ok__"].to_numpy()] = float("nan")
            pdf[vals] = res
            return pdf[[*icols, *vals]]

        out = base.groupBy(*keycols).applyInPandas(_apply, schema=out_schema)
        return DataFrame(out, index_cols=tuple(icols))


class _GroupEwm:
    """Lazy ``groupby().ewm(...)`` proxy — see DataFrameGroupBy.ewm."""

    def __init__(self, gb: DataFrameGroupBy, alpha, span, halflife, com, min_periods):
        self._gb = gb
        self._kw = dict(
            alpha=alpha, span=span, halflife=halflife, com=com,
            min_periods=min_periods,
        )

    def mean(self, numeric_only=True) -> DataFrame:
        return self._stat("mean", numeric_only)

    def var(self, numeric_only=True) -> DataFrame:
        """pandas ``groupby().ewm().var()`` (adjust=True, bias=False)
        — same engines/plan as mean; columns land as
        ``<col>_ewm_var``."""
        return self._stat("var", numeric_only)

    def std(self, numeric_only=True) -> DataFrame:
        """pandas ``groupby().ewm().std()`` — sqrt of var; columns
        land as ``<col>_ewm_std``."""
        return self._stat("std", numeric_only)

    def _stat(self, stat: str, numeric_only=True) -> DataFrame:
        from .operators.windowed import ewm_mean_grouped

        gb = self._gb
        cols = [f.display_name for f in gb._agg_fields(numeric_only, "ewm")
                if f.is_numeric]
        if not cols:
            raise ValueError("no numeric columns for ewm")
        return ewm_mean_grouped(
            gb._frame, gb._by, cols, stat=stat, **self._kw
        )
