"""DataFrame — lazy pandas-style façade whose plan IS a Spark DataFrame.

Reference architecture (eland): DataFrame -> QueryCompiler (client +
FieldMappings + task list) -> one ES request + client post-processing
(eland/dataframe.py, eland/operations.py:79-145). Here the task list is
replaced by the Catalyst logical plan: every façade op appends to a
``pyspark.sql.DataFrame`` and a metadata ``Schema``; nothing executes
until a materializing call (to_pandas/collect/agg/shape).

Row identity: the reference pins every frame to an index field (``_id``,
eland/index.py:24-77) so head/tail/drop-by-id are deterministic. Spark
has no implicit row order, so each frame carries explicit index columns
(a natural key or one frozen at ingest) and all peek paths order by them.
"""

from __future__ import annotations

from typing import Any, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._literals import array_lit
from .schema import Field, Schema, spark_to_pd_dtype
from .series import Series

__all__ = ["DataFrame"]

# reindex(method=) label lists at or under this size take the one-job
# driver-fold as-of path (see _reindex_rows_fold); larger lists keep the
# windowless global-fill bucket plan (unbounded-safe).
_REINDEX_FOLD_MAX = 1024


class DataFrame:
    def __init__(
        self,
        sdf: SparkDataFrame,
        schema: Schema | None = None,
        index_cols: Iterable[str] = (),
        order: "tuple[tuple[str, bool, bool], ...] | None" = None,
    ):
        self._sdf = sdf
        if schema is None:
            schema = Schema.from_spark(sdf.schema, tuple(index_cols))
        self._schema = schema
        # explicit user ordering from sort_values: tuples of
        # (resolved column, ascending, nulls_last). head/tail row
        # MEMBERSHIP follows it; materialization still presents rows in
        # index order (the reference's SortIndexAction contract)
        self._order = order

    # ------------------------------------------------------------------
    # metadata accessors (reference eland/dataframe.py:158-207,1444-1500)
    # ------------------------------------------------------------------
    @property
    def columns(self) -> pd.Index:
        return pd.Index(self._schema.display_names)

    @property
    def dtypes(self) -> pd.Series:
        return pd.Series(
            {f.display_name: pd.api.types.pandas_dtype(f.pd_dtype) for f in self._schema.fields},
            index=self._schema.display_names,
        )

    @property
    def index_cols(self) -> tuple[str, ...]:
        return self._schema.index_cols

    @property
    def shape(self) -> tuple[int, int]:
        # row count triggers a job, like the reference's _count request
        # (eland/operations.py:1339-1356)
        return (self._sdf.count(), len(self._schema.fields))

    @property
    def ndim(self) -> int:
        return 2

    @property
    def size(self) -> int:
        r, c = self.shape
        return r * c

    @property
    def empty(self) -> bool:
        return self._sdf.isEmpty()

    def keys(self) -> pd.Index:
        return self.columns

    def __len__(self) -> int:
        return self._sdf.count()

    def __repr__(self) -> str:
        with pd.option_context("display.max_rows", 60):
            return repr(self._peek())

    def _repr_html_(self):
        """Notebook HTML rendering (reference eland/dataframe.py:521-
        556): the head+tail peek formatted by pandas; honors the
        notebook_repr_html option."""
        if not pd.get_option("display.notebook_repr_html"):
            return None
        with pd.option_context("display.max_rows", 60):
            return self._peek()._repr_html_()

    def __dir__(self):
        """Column names join the attribute list so notebook tab
        completion offers ``df.<col>`` (reference tests/dataframe/
        test_dir_pytest.py contract)."""
        return sorted(
            set(super().__dir__())
            | {c for c in self._schema.display_names if c.isidentifier()}
        )

    def _peek(self, n: int = 60) -> pd.DataFrame:
        """head+tail halves concatenated (reference repr path,
        eland/ndframe.py:162-175)."""
        total = len(self)
        if total <= n:
            return self.to_pandas()
        half = n // 2
        return pd.concat([self.head(half).to_pandas(), self.tail(half).to_pandas()])

    # ------------------------------------------------------------------
    # rebuild helpers
    # ------------------------------------------------------------------
    def _with(
        self,
        sdf: SparkDataFrame | None = None,
        schema: Schema | None = None,
        order: "tuple | None | str" = "__keep__",
    ) -> "DataFrame":
        return DataFrame(
            sdf if sdf is not None else self._sdf,
            schema or self._schema,
            order=self._order if order == "__keep__" else order,
        )

    def _index_order(self, desc: bool = False) -> list[Column]:
        cols = self._schema.index_cols or tuple(
            f.column_name for f in self._schema.fields
        )
        return [F.col(c).desc() if desc else F.col(c).asc() for c in cols]

    def _ordered_sdf(self, desc: bool = False) -> SparkDataFrame:
        if self._order:
            cols = []
            for name, asc, nulls_last in self._order:
                a, nl = (asc, nulls_last) if not desc else (not asc, not nulls_last)
                cols.append(
                    (F.col(name).asc_nulls_last() if nl else F.col(name).asc_nulls_first())
                    if a
                    else (F.col(name).desc_nulls_last() if nl else F.col(name).desc_nulls_first())
                )
            cols += self._index_order(desc)  # deterministic tiebreak
            return self._sdf.orderBy(*cols)
        return self._sdf.orderBy(*self._index_order(desc))

    def _projected(self, sdf: SparkDataFrame | None = None) -> SparkDataFrame:
        """Physical projection: index cols + visible columns under display
        names (column pruning reaches the parquet scan via Catalyst)."""
        sdf = sdf if sdf is not None else self._sdf
        fields = self._schema.fields
        names = self._projected_names()
        if all(f.column_name == f.display_name for f in fields) and sdf.columns == names:
            # identity: rebuilding F.col(c).alias(c) per field costs
            # ~4 py4j commands per column and changes nothing
            return sdf
        hidden_index = names[: len(names) - len(fields)]
        cols = [F.col(c) for c in hidden_index]
        cols += [F.col(f.column_name).alias(f.display_name) for f in fields]
        return sdf.select(*cols)

    def _projected_names(self) -> list[str]:
        """Column names of :meth:`_projected`'s output: index columns not
        shadowed by a display name, then every display name."""
        shown = self._schema.display_names
        return [c for c in self._schema.index_cols if c not in shown] + shown

    # ------------------------------------------------------------------
    # column ops (reference eland/dataframe.py:329-468,1184-1272,2078-2151)
    # ------------------------------------------------------------------
    def __getitem__(self, key):
        if isinstance(key, str):
            f = self._schema.field(key)
            return Series(self, F.col(f.column_name), key, f.spark_type)
        if isinstance(key, (list, tuple, pd.Index)):
            return self._with(schema=self._schema.select(list(key)))
        if isinstance(key, Series):
            return self._with(sdf=self._sdf.filter(key.spark_column))
        raise TypeError(f"unsupported key type: {type(key)}")

    def __getattr__(self, name: str):
        if name in ("values",):
            # the property getter's AttributeError would otherwise be
            # swallowed by this fallback and lose its message
            raise AttributeError(
                "This method would materialize the entire distributed table "
                "in driver memory. If explicitly required, call "
                "`.to_pandas().values`."
            )
        schema = object.__getattribute__(self, "_schema")
        if name in schema:
            return self[name]
        raise AttributeError(name)

    def __setitem__(self, name: str, value):
        """Derived column (scripted-field analog,
        eland/field_mappings.py:679-714)."""
        if isinstance(value, Series):
            expr, stype = value.spark_column, value._spark_type
        else:
            expr = F.lit(value)
            stype = None
        sdf = self._sdf.withColumn(name, expr)
        stype = stype or sdf.schema[name].dataType
        self._sdf = sdf
        self._schema = self._schema.with_field(
            Field(name, name, stype, is_derived=True)
        )

    def assign(self, **kwargs) -> "DataFrame":
        out = self._with()
        for k, v in kwargs.items():
            if callable(v) and not isinstance(v, Series):
                # pandas allows lambdas receiving the (intermediate)
                # frame, so later assigns can use earlier ones
                v = v(out)
            out[k] = v if not isinstance(v, Series) else Series(
                out, v.spark_column, k, v._spark_type, True
            )
        return out

    def explode(self, column, keep_empty: bool = True) -> "DataFrame":
        """Expand one or more array columns to one row per element
        (pandas ``DataFrame.explode``). The reference surfaces ES
        multi-valued fields as Python lists inside object cells (SURVEY
        §1.3, eland/query_compiler.py:153-229); here they are real
        ArrayType columns, and explode is the relational accessor.
        ``keep_empty`` matches pandas: null/empty arrays keep their row
        with a null element (explode_outer); False drops them (inner
        explode).

        A LIST of columns explodes them zipped element-wise (pandas
        1.3 multi-column explode) via ``arrays_zip`` — still one
        Generate node, zero shuffle. A NULL array among non-null
        siblings is treated as pandas treats a None cell: one scalar
        null element (the null array is coalesced to ``array(null)``
        before zipping, so the siblings' elements survive; with
        ``keep_empty=False`` it coalesces to ``array()`` instead, so
        all-null rows still drop while non-null siblings explode with
        null padding). Divergence from pandas, because a
        lazy plan cannot raise per-row: rows whose lists have
        MISMATCHED lengths null-pad the shorter ones (pandas raises
        ValueError); run a length-equality check upstream if you need
        the strict contract."""
        from dataclasses import replace

        from .schema import Schema as _Schema

        cols = [column] if isinstance(column, str) else list(column)
        phys = [self._schema.resolve(c) for c in cols]
        fn = F.explode_outer if keep_empty else F.explode
        if len(phys) == 1:
            sdf = self._sdf.withColumn(phys[0], fn(F.col(phys[0])))
        else:
            sdf_types = {f.name: f.dataType for f in self._sdf.schema.fields}
            arrs = []
            for p in phys:
                elem = sdf_types[p].elementType
                fallback = (
                    F.array(F.lit(None).cast(elem))
                    if keep_empty
                    else F.array().cast(T.ArrayType(elem))
                )
                arrs.append(F.coalesce(F.col(p), fallback).alias(p))
            zipped = fn(F.arrays_zip(*arrs))
            sdf = self._sdf.withColumn("__zip__", zipped)
            for p in phys:
                sdf = sdf.withColumn(p, F.col(f"__zip__.{p}"))
            sdf = sdf.drop("__zip__")
        elem_types = dict((f.name, f.dataType) for f in sdf.schema.fields)
        fields = tuple(
            replace(f, spark_type=elem_types[f.column_name])
            if f.column_name in phys else f
            for f in self._schema.fields
        )
        return self._with(sdf=sdf, schema=_Schema(fields, self._schema.index_cols))

    def json_normalize(
        self,
        column: str,
        prefix: str | None = None,
        schema: str | None = None,
        sample_rows: int = 1000,
        drop: bool = True,
    ) -> "DataFrame":
        """Flatten a JSON-string column into typed top-level columns
        (``pd.json_normalize`` for the common flat-record case): parse
        with ``from_json`` — ONE jsonified pass, zero shuffle — and
        expand the struct's fields as ``{prefix}{field}`` columns.

        The struct schema comes from ``schema`` (a DDL string like
        ``'k BIGINT, tag STRING'``) when given; otherwise it is
        INFERRED by reading a driver-side sample of ``sample_rows``
        non-null values through ``spark.read.json`` — the sample is
        bounded and happens once at build time, the parse itself is
        distributed. At 100 TB pass ``schema`` explicitly (inference
        reads a sample but a sparse late field could be missed).
        Unparseable rows yield nulls (from_json PERMISSIVE default).
        ``drop=True`` removes the raw JSON column."""
        from .schema import Field as _Field
        from .schema import Schema as _Schema

        phys = self._schema.resolve(column)
        if schema is not None:
            st = T._parse_datatype_string(schema)
        else:
            sample = (
                self._sdf.select(F.col(phys).alias("j"))
                .filter(F.col(phys).isNotNull())
                .limit(int(sample_rows))
            )
            spark = self._sdf.sparkSession
            st = spark.read.json(
                sample.rdd.map(lambda r: r["j"])
            ).schema
            st = T.StructType(
                [f for f in st.fields if not f.name.startswith("_corrupt")]
            )
        if not isinstance(st, T.StructType) or not st.fields:
            raise ValueError(
                f"could not derive a struct schema for {column!r} — pass "
                "schema='field TYPE, ...'"
            )
        pfx = prefix if prefix is not None else ""
        tmp = "__jn__"
        while tmp in self._sdf.columns:
            tmp += "_"
        sdf = self._sdf.withColumn(tmp, F.from_json(F.col(phys), st))
        new_cols, new_fields = [], []
        taken = set(self._sdf.columns) | set(self._schema.display_names)
        for f in st.fields:
            name = f"{pfx}{f.name}"
            while name in taken:
                name += "_"
            taken.add(name)
            new_cols.append((name, f))
        for name, f in new_cols:
            sdf = sdf.withColumn(name, F.col(f"{tmp}.{f.name}"))
        sdf = sdf.drop(tmp)
        fields = list(self._schema.fields)
        if drop:
            sdf = sdf.drop(phys)
            fields = [f for f in fields if f.column_name != phys]
        fields += [
            _Field(name, name, f.dataType) for name, f in new_cols
        ]
        return self._with(
            sdf=sdf, schema=_Schema(tuple(fields), self._schema.index_cols)
        )

    def drop(
        self,
        labels=None,
        axis: int = 0,
        columns=None,
        index=None,
        errors: str = "raise",
    ) -> "DataFrame":
        if labels is not None:
            if axis in (1, "columns"):
                columns = labels
            else:
                index = labels
        out = self
        if columns is not None:
            cols = [columns] if isinstance(columns, str) else list(columns)
            if errors == "ignore":
                cols = [c for c in cols if c in self._schema]
            out = out._with(schema=out._schema.drop(cols))
        if index is not None:
            # drop rows by index value (reference QueryIdsTask,
            # eland/tasks.py:223-252)
            ids = [index] if np.isscalar(index) else list(index)
            key = out._schema.index_cols[0] if out._schema.index_cols else None
            if key is None:
                raise ValueError("drop(index=...) requires an index column")
            out = out._with(sdf=out._sdf.filter(~F.col(key).isin(ids)))
        return out

    def rename(self, columns: dict[str, str] | None = None, **kw) -> "DataFrame":
        if columns is None:
            return self._with()
        return self._with(schema=self._schema.rename(columns))

    def select_dtypes(self, include=None, exclude=None) -> "DataFrame":
        inc = [include] if isinstance(include, str) else (include or [])
        exc = [exclude] if isinstance(exclude, str) else (exclude or [])

        def matches(f: Field, spec: str) -> bool:
            if spec in ("number", "numeric"):
                return f.is_numeric
            if spec in ("object", "str", "string"):
                return f.is_string
            if spec in ("bool", "boolean"):
                return f.is_bool
            if spec.startswith("datetime"):
                return f.is_timestamp
            if spec in ("int", "int64", "integer"):
                return f.pd_dtype.startswith("int")
            if spec in ("float", "float64"):
                return f.pd_dtype.startswith("float")
            return f.pd_dtype == spec

        keep = []
        for f in self._schema.fields:
            if inc and not any(matches(f, s) for s in inc):
                continue
            if exc and any(matches(f, s) for s in exc):
                continue
            keep.append(f.display_name)
        return self._with(schema=self._schema.select(keep))

    # ------------------------------------------------------------------
    # elementwise frame transforms (pandas surface; pure projections —
    # zero shuffle, codegen'd, pushdown-transparent)
    # ------------------------------------------------------------------
    def _map_fields(self, make_expr, predicate) -> "DataFrame":
        """Rewrite every field matching ``predicate`` with
        ``make_expr(col, field)`` via one withColumns projection."""
        updates = {
            f.column_name: make_expr(F.col(f.column_name), f)
            for f in self._schema.fields
            if predicate(f)
        }
        if not updates:
            return self._with()
        return self._with(sdf=self._sdf.withColumns(updates))

    def abs(self) -> "DataFrame":
        """pandas ``DataFrame.abs``: every column must be numeric/bool
        (pandas raises on object frames too)."""
        bad = [
            f.display_name
            for f in self._schema.fields
            if not (f.is_numeric or f.is_bool)
        ]
        if bad:
            raise TypeError(f"abs() requires numeric columns; non-numeric: {bad}")
        return self._map_fields(lambda c, f: F.abs(c), lambda f: f.is_numeric)

    def round(self, decimals: int = 0) -> "DataFrame":
        """pandas ``DataFrame.round``: floating columns rounded to
        ``decimals``; integer/other columns untouched."""
        return self._map_fields(
            lambda c, f: F.round(c, decimals),
            lambda f: f.pd_dtype.startswith("float"),
        )

    def clip(self, lower=None, upper=None) -> "DataFrame":
        """pandas ``DataFrame.clip`` over the numeric columns
        (null-propagating like the Series form)."""
        if lower is None and upper is None:
            raise ValueError("clip needs lower and/or upper")

        def _clip(c, f):
            expr = c
            if lower is not None:
                expr = F.when(c.isNotNull(), F.greatest(expr, F.lit(lower)))
            if upper is not None:
                expr = F.when(c.isNotNull(), F.least(expr, F.lit(upper)))
            return expr

        return self._map_fields(_clip, lambda f: f.is_numeric)

    def where(self, cond: "Series", other=None) -> "DataFrame":
        """pandas ``DataFrame.where`` with a boolean Series row mask:
        rows failing the condition get ``other`` (default null) in
        EVERY data column — the frame keeps its full row set, unlike
        ``df[cond]``. A pure projection."""
        if not isinstance(cond, Series):
            raise TypeError("where() expects a boolean Series mask")
        mask = cond.spark_column
        repl = F.lit(other)
        return self._map_fields(
            lambda c, f: F.when(mask, c).otherwise(repl.cast(f.spark_type)),
            lambda f: f.display_name not in self._schema.index_cols,
        )

    def mask(self, cond: "Series", other=None) -> "DataFrame":
        """pandas ``DataFrame.mask``: inverse of :meth:`where`."""
        if not isinstance(cond, Series):
            raise TypeError("mask() expects a boolean Series mask")
        inv = Series(
            cond._frame, ~cond.spark_column, cond._name, cond._spark_type, True
        )
        return self.where(inv, other=other)

    def replace(self, to_replace, value=None) -> "DataFrame":
        """pandas ``DataFrame.replace`` (scalar / list / dict forms):
        each CASE chain is applied only to columns whose type family
        (numeric / string / boolean) matches the replacement keys —
        mirroring how pandas leaves non-matching dtypes untouched."""

        def _family(v) -> str | None:
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, (int, float)):
                return "num"
            if isinstance(v, str):
                return "str"
            return None

        def _field_family(f: Field) -> str | None:
            if f.is_bool:
                return "bool"
            if f.is_numeric:
                return "num"
            if f.is_string:
                return "str"
            return None

        if isinstance(to_replace, dict):
            if value is not None:
                raise ValueError("value must be None when to_replace is a dict")
            items = [(k, v) for k, v in to_replace.items() if k is not None]
        else:
            targets = (
                list(to_replace)
                if isinstance(to_replace, (list, tuple, set))
                else [to_replace]
            )
            items = [(t, value) for t in targets]
        if not items:
            return self._with()
        fams = {_family(k) for k, _ in items}

        def _rewrite(c, f):
            expr = None
            for k, v in items:
                if _family(k) != _field_family(f):
                    continue
                cond = c == F.lit(k)
                expr = (
                    F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
                )
            return expr.otherwise(c) if expr is not None else c

        return self._map_fields(_rewrite, lambda f: _field_family(f) in fams)

    def eval(self, expr: str) -> "DataFrame":
        """pandas ``DataFrame.eval`` for assignment expressions:
        ``"name = <sql expr>"`` lines (one per assignment) compiled by
        Catalyst — like :meth:`query`, the right-hand side is ANSI SQL,
        not pandas-eval. Without an ``=`` the expression is returned as
        a derived Series."""
        lines = [ln.strip() for ln in expr.splitlines() if ln.strip()]
        out = self._with()
        for ln in lines:
            lhs, eq, rhs = ln.partition("=")
            # an assignment iff the LHS is a bare identifier and the '='
            # is not part of a ==/>=/<=/!= comparison
            is_assign = (
                eq
                and lhs.strip().isidentifier()
                and not rhs.startswith("=")
                and not lhs.rstrip().endswith(("<", ">", "!"))
            )
            if is_assign:
                name = lhs.strip()
                col = F.expr(rhs.strip())
                out[name] = Series(out, col, name, None, True)
            else:
                if len(lines) > 1:
                    raise ValueError("multi-line eval must be all assignments")
                return Series(self, F.expr(ln), "eval", None, True)
        return out

    def filter(self, items=None, like=None, regex=None, axis=None) -> "DataFrame":
        """Column-name (axis=1) or index-value (axis=0) filtering
        (reference eland/dataframe.py:2078-2151,
        eland/operations.py:1164-1187)."""
        if sum(x is not None for x in (items, like, regex)) != 1:
            raise TypeError("pass exactly one of items, like, regex")
        if axis in (1, "columns", None) and not (axis in (0, "index")):
            if items is not None:
                keep = [c for c in items if c in self._schema]
            elif like is not None:
                keep = [c for c in self._schema.display_names if like in c]
            else:
                import re

                pat = re.compile(regex)
                keep = [c for c in self._schema.display_names if pat.search(c)]
            return self._with(schema=self._schema.select(keep))
        # axis=0: keep rows whose index value is in items
        if items is None:
            raise NotImplementedError(
                "filter like/regex on index is not supported (matches reference, "
                "eland/operations.py:1184-1187)"
            )
        key = self._schema.index_cols[0]
        return self._with(sdf=self._sdf.filter(F.col(key).isin(list(items))))

    # ------------------------------------------------------------------
    # row predicates
    # ------------------------------------------------------------------
    def query(self, expr: str) -> "DataFrame":
        """SQL-expression filter — the ``df.query`` escape hatch
        (reference eland/dataframe.py:1991-2036); the string is ANSI SQL
        evaluated by Catalyst, not pandas-eval."""
        return self._with(sdf=self._sdf.filter(F.expr(expr)))

    def es_query(self, query) -> "DataFrame":
        """Raw-query escape hatch (reference eland/dataframe.py:736-791,
        query_compiler.py:490-491): an ES query-DSL dict compiled to a
        Catalyst predicate (functions.es_dsl — stays pushdown-eligible),
        or a SQL string for the relational-native spelling.

        ES 8 ``knn`` retrieval sections (``{"knn": {"field",
        "query_vector", "k", "num_candidates"?, "filter"?}}`` — the
        search-API form the reference forwards to the server) are
        RETRIEVALS, not predicates: they compile to a pre-filtered
        brute-force cosine top-k (scan + TakeOrderedAndProject — no
        full shuffle; the optional ``filter`` clause compiles through
        the DSL compiler and pushes down to the scan). Swap in the
        IVF/LSH operators explicitly for billion-vector corpora."""
        if isinstance(query, str):
            return self.query(query)
        if isinstance(query, dict) and set(query) == {"knn"}:
            return self._es_knn(query["knn"])
        from .functions.es_dsl import compile_es_dsl

        col = compile_es_dsl(
            query, self._schema.resolve, tuple(self._schema.index_cols)
        )
        return self._with(sdf=self._sdf.filter(col))

    def _es_knn(self, body: dict) -> "DataFrame":
        """Compile one ES knn section: optional DSL pre-filter, then
        exact cosine top-k ordered by (similarity desc, index asc) for
        a deterministic tie-break."""
        from .functions.es_dsl import compile_es_dsl
        from .operators.similarity import _vec_lit, cosine

        field = self._schema.resolve(body["field"])
        qvec = [float(x) for x in body["query_vector"]]
        k = int(body.get("k", 10))
        sdf = self._sdf
        flt = body.get("filter")
        if flt is not None:
            clauses = flt if isinstance(flt, list) else [flt]
            for c in clauses:
                sdf = sdf.filter(
                    compile_es_dsl(
                        c, self._schema.resolve, tuple(self._schema.index_cols)
                    )
                )
        sim = cosine(F.col(field), _vec_lit(qvec))
        order = [sim.desc()] + [
            F.col(c).asc() for c in self._schema.index_cols
        ]
        return self._with(sdf=sdf.orderBy(*order).limit(k))

    def es_match(
        self,
        text: str,
        columns: list[str] | None = None,
        match_phrase: bool = False,
        match_only_text_fields: bool = True,
        multi_match_type: str | None = None,
        fuzziness: int | str | None = None,
        must_not_match: bool = False,
    ) -> Series:
        """Multi-column text-match analog (reference
        eland/query_compiler.py:419-488): OR of per-column matches
        (best_fields semantics; BM25 relevance is deliberately out of
        relational scope). ``multi_match_type`` accepts 'best_fields'
        or 'phrase' ('phrase' implies match_phrase per field);
        ``match_only_text_fields`` mirrors the reference's non-text
        column rejection."""
        cols = columns or [f.display_name for f in self._schema.fields if f.is_string]
        if not cols:
            raise ValueError("no text columns to match against")
        if columns is not None and len(cols) == 1 and multi_match_type is not None:
            raise ValueError(
                "multi_match_type parameter only valid when searching "
                "more than one column"
            )
        if multi_match_type not in (None, "best_fields", "phrase"):
            raise ValueError(f"unsupported multi_match_type {multi_match_type!r}")
        if multi_match_type == "phrase":
            match_phrase = True
        elif match_phrase and multi_match_type is not None:
            raise ValueError(
                "match_phrase=True and multi_match_type="
                f"{multi_match_type!r} are not compatible. "
                "Must be multi_match_type='phrase'"
            )
        if match_only_text_fields:
            non_text = [c for c in cols if not self._schema.field(c).is_string]
            if non_text:
                raise ValueError(
                    f"Attempting to run es_match() on non-text fields "
                    f"({', '.join(non_text)}). Consider "
                    f"match_only_text_fields=False to match anyway."
                )
            use = cols
        else:
            use = [c for c in cols if self._schema.field(c).is_string]
            if not use:
                raise ValueError("no text columns to match against")
        # must_not(a OR b) must negate the WHOLE disjunction, so build
        # the positive mask first and negate once
        mask = self[use[0]].es_match(text, match_phrase, fuzziness=fuzziness)
        for c in use[1:]:
            mask = mask | self[c].es_match(text, match_phrase, fuzziness=fuzziness)
        return ~mask if must_not_match else mask

    # ------------------------------------------------------------------
    # sorts / limits / sampling (reference eland/dataframe.py:208-286,
    # eland/tasks.py:78-220)
    # ------------------------------------------------------------------
    def head(self, n: int = 5) -> "DataFrame":
        return self._with(sdf=self._ordered_sdf().limit(n))

    def tail(self, n: int = 5) -> "DataFrame":
        # reverse-sort + limit; ascending re-sort happens in to_pandas
        # (reference SortIndexAction, eland/actions.py:52-91)
        return self._with(sdf=self._ordered_sdf(desc=True).limit(n))

    def sample(
        self, n: int | None = None, frac: float | None = None,
        random_state: int = 42, weights: str | None = None,
    ) -> "DataFrame":
        if n is not None and frac is not None:
            raise ValueError("pass either n or frac, not both")
        if weights is not None:
            # pandas sample(weights=col): probability proportional to
            # the column, without replacement — Efraimidis-Spirakis
            # exponential keys (operators/sampling.weighted_sample_n):
            # one scan + TakeOrdered, no full sort; zero/negative
            # weights never sampled (pandas drops zeros too).
            # Deterministic via hash-derived uniforms (md5 of the index
            # when one exists — engine-portable).
            if frac is not None:
                raise NotImplementedError(
                    "sample(frac=, weights=) — pass n= with weights "
                    "(a weighted fraction has no exact-size contract)"
                )
            from .operators.sampling import weighted_sample_n

            wcol = self._schema.resolve(weights)
            idc = self._schema.index_cols[0] if self._schema.index_cols else None
            out = weighted_sample_n(
                self._sdf, wcol, int(n or 5), seed=random_state, id_col=idc
            )
            return self._with(sdf=out)
        if frac is not None:
            return self._with(sdf=self._sdf.sample(fraction=frac, seed=random_state))
        # exact-n sample (reference returns exactly n,
        # eland/tasks.py:188-220); at 100 TB prefer frac (TABLESAMPLE, no
        # global sort) — exact-n costs one orderBy(rand) shuffle.
        return self._with(
            sdf=self._sdf.orderBy(F.rand(random_state)).limit(int(n or 5))
        )

    def truncate(self, before=None, after=None) -> "DataFrame":
        """pandas ``DataFrame.truncate``: keep rows whose INDEX value
        lies in ``[before, after]`` (either bound optional). A pure
        index-range filter — pushdown-eligible, zero shuffle; on a
        sorted/partitioned layout this is partition pruning."""
        icols = self._schema.index_cols
        if not icols:
            raise ValueError("truncate needs an index column")
        if before is not None and after is not None:
            try:
                bad = before > after
            except TypeError:
                bad = False
            if bad:
                raise ValueError(f"Truncate: {after!r} must be after {before!r}")
        key = F.col(self._schema.resolve(icols[0]))
        sdf = self._sdf
        if before is not None:
            sdf = sdf.filter(key >= F.lit(before))
        if after is not None:
            sdf = sdf.filter(key <= F.lit(after))
        return self._with(sdf=sdf)

    def _time_of_day_micros(self):
        import pyspark.sql.types as T

        icols = self._schema.index_cols
        if not icols:
            raise TypeError("Index must be DatetimeIndex")
        key = self._schema.resolve(icols[0])
        dt = self._sdf.schema[key].dataType
        if not isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            raise TypeError("Index must be DatetimeIndex")
        col = F.col(key)
        # field-based (hour/minute + fractional-second reformat) so the
        # SAME expression serves TIMESTAMP and TIMESTAMP_NTZ — parquet
        # loads NTZ, and unix_micros rejects it
        whole_minutes = (F.hour(col) * 60 + F.minute(col)).cast("bigint")
        frac_micros = (
            F.date_format(col, "ss.SSSSSS").cast("decimal(9,6)") * 1_000_000
        ).cast("bigint")
        return whole_minutes * F.lit(60_000_000).cast("bigint") + frac_micros

    @staticmethod
    def _parse_time(t):
        import datetime as _dt

        tt = t if isinstance(t, _dt.time) else _dt.time.fromisoformat(t)
        return ((tt.hour * 60 + tt.minute) * 60 + tt.second) * 1_000_000 + tt.microsecond

    def at_time(self, time) -> "DataFrame":
        """pandas ``DataFrame.at_time``: rows whose timestamp index has
        exactly this time of day (microsecond-exact; one Column
        comparison, zero shuffle)."""
        tod = self._time_of_day_micros()
        return self._with(sdf=self._sdf.filter(tod == F.lit(self._parse_time(time))))

    def between_time(
        self, start_time, end_time, inclusive: str = "both"
    ) -> "DataFrame":
        """pandas ``DataFrame.between_time``: time-of-day range filter
        on the timestamp index; ``start > end`` wraps past midnight
        (keep outside the interval), matching pandas. Zero shuffle."""
        if inclusive not in ("both", "neither", "left", "right"):
            raise ValueError(
                "inclusive must be 'both', 'neither', 'left' or 'right'"
            )
        tod = self._time_of_day_micros()
        s = self._parse_time(start_time)
        e = self._parse_time(end_time)
        left = (tod >= s) if inclusive in ("both", "left") else (tod > s)
        right = (tod <= e) if inclusive in ("both", "right") else (tod < e)
        cond = (left & right) if s <= e else (left | right)
        return self._with(sdf=self._sdf.filter(cond))

    def sort_values(self, by, ascending=True, na_position: str = "last") -> "DataFrame":
        """pandas ``na_position='last'`` is the default — and matches
        ES sort's ``missing: _last``. Spark's bare ``.asc()`` puts
        nulls FIRST, so the null placement must be explicit."""
        if na_position not in ("first", "last"):
            raise ValueError(f"invalid na_position: {na_position!r}")
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        last = na_position == "last"
        spec = tuple((self._schema.resolve(b), bool(a), last) for b, a in zip(by, asc))
        cols = [
            (
                (F.col(c).asc_nulls_last() if nl else F.col(c).asc_nulls_first())
                if a
                else (F.col(c).desc_nulls_last() if nl else F.col(c).desc_nulls_first())
            )
            for c, a, nl in spec
        ]
        # the orderBy covers to_spark() consumers; the order spec makes
        # head/tail row membership follow the sort (pandas semantics)
        return self._with(sdf=self._sdf.orderBy(*cols), order=spec)

    def sort_index(self, ascending: bool = True) -> "DataFrame":
        """Rows ordered by the index columns (pandas parity; one range
        exchange, same plan as ``sort_values`` on the index). Replaces
        any explicit sort_values ordering; a descending sort records
        its keys so head/tail/to_pandas follow it."""
        order = None
        if not ascending:
            cols = self._schema.index_cols or tuple(f.column_name for f in self._schema.fields)
            order = tuple((c, False, True) for c in cols)
        return self._with(
            sdf=self._sdf.orderBy(*self._index_order(desc=not ascending)),
            order=order,
        )

    def set_index(self, keys, drop: bool = True) -> "DataFrame":
        """Re-key the frame's row identity to existing column(s) —
        metadata-only, no job. The index columns carry ordering/identity
        for head/tail/iterrows/shift-family ops; with ``drop=True``
        (pandas default) they leave the data columns but stay physical
        (``to_pandas(set_index=True)`` surfaces them as the pandas
        index). Reference analog: es_index_field selection at read time
        (eland/index.py:24-60)."""
        from dataclasses import replace as _replace

        keys = [keys] if isinstance(keys, str) else list(keys)
        missing = [k for k in keys if k not in self._schema]
        if missing:
            raise KeyError(f"set_index keys not found: {missing}")
        phys = tuple(self._schema.resolve(k) for k in keys)
        schema = _replace(self._schema, index_cols=phys)
        if drop:
            schema = schema.drop(keys)
        return self._with(schema=schema)

    def reset_index(self, drop: bool = False) -> "DataFrame":
        """Demote the index columns back to (or out of, with
        ``drop=True``) the data columns — metadata-only, no global
        renumbering job (a frame without index columns orders by all
        columns; pandas' RangeIndex has no cheap distributed analog and
        is deliberately not synthesized)."""
        from dataclasses import replace as _replace

        from .schema import Field as _Field

        schema = self._schema
        if not drop:
            phys_types = dict(
                (f.name, f.dataType) for f in self._sdf.schema.fields
            )
            for ic in schema.index_cols:
                if not any(f.column_name == ic for f in schema.fields):
                    new_f = _Field(ic, ic, phys_types[ic])
                    schema = _replace(schema, fields=(new_f,) + schema.fields)
        return self._with(schema=_replace(schema, index_cols=()))

    def resample(self, rule: str, on: str):
        """pandas time-series ``resample``: bucket ``on`` by ``rule``
        and return a GroupBy over the bucket (left-edge labels,
        epoch-aligned — the reference's date_histogram analog,
        eland/query.py:195-211). Fixed-width rules ('1D', '6h',
        '15min') compile to epoch-floor arithmetic; calendar rules
        ('W', 'M', 'MS', 'Q', 'Y') to ``date_trunc``. One hash
        aggregation either way."""
        import pandas as _pd

        schema = self._schema
        col = F.col(schema.resolve(on))
        calendar = {
            "W": "week",
            "M": "month",
            "MS": "month",
            "Q": "quarter",
            "QS": "quarter",
            "Y": "year",
            "YS": "year",
            "A": "year",
        }
        if rule in calendar:
            bucket = F.date_trunc(calendar[rule], col)
        else:
            try:
                secs = int(_pd.Timedelta(rule).total_seconds())
            except ValueError:
                raise ValueError(f"unsupported resample rule {rule!r}") from None
            if secs <= 0:
                raise ValueError(f"unsupported resample rule {rule!r}")
            # floor to the epoch-aligned bucket; NTZ-safe (no tz shift
            # in UTC sessions)
            epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
            off = F.floor(
                F.expr(
                    f"timestampdiff(SECOND, to_timestamp('1970-01-01 00:00:00'), "
                    f"`{schema.resolve(on)}`)"
                )
                / secs
            ) * secs
            bucket = F.timestamp_add("SECOND", off, epoch)
        bucketed = self.assign(
            **{on: Series(self, bucket, on, T.TimestampNTZType(), True)}
        )
        return bucketed.groupby(on)

    def merge_asof(
        self,
        right: "DataFrame",
        on: str,
        by=None,
        direction: str = "backward",
        tolerance=None,
        suffixes: tuple[str, str] = ("", "_right"),
        allow_exact_matches: bool = True,
    ) -> "DataFrame":
        """pandas ``merge_asof`` (as-of/temporal join): one hash
        shuffle on ``by`` + local sort, fill-forward window — see
        operators/asof.py for the scale rationale."""
        from .operators.asof import merge_asof

        out = merge_asof(
            self,
            right,
            on=on,
            by=by,
            direction=direction,
            tolerance=tolerance,
            suffixes=suffixes,
            allow_exact_matches=allow_exact_matches,
        )
        return DataFrame(out, index_cols=tuple(self._schema.index_cols))

    def isna(self) -> "DataFrame":
        """Boolean null-mask frame (pandas ``isna``): lazy, one
        projection — index columns plus one boolean per data column."""
        schema = self._schema
        icols = [F.col(schema.resolve(c)).alias(c) for c in schema.index_cols]
        masks = [
            F.col(f.column_name).isNull().alias(f.display_name)
            for f in schema.fields
            if f.display_name not in schema.index_cols
        ]
        return DataFrame(
            self._sdf.select(*icols, *masks),
            index_cols=tuple(schema.index_cols),
        )

    def notna(self) -> "DataFrame":
        schema = self._schema
        icols = [F.col(schema.resolve(c)).alias(c) for c in schema.index_cols]
        masks = [
            F.col(f.column_name).isNotNull().alias(f.display_name)
            for f in schema.fields
            if f.display_name not in schema.index_cols
        ]
        return DataFrame(
            self._sdf.select(*icols, *masks),
            index_cols=tuple(schema.index_cols),
        )

    isnull = isna
    notnull = notna

    def duplicated(self, subset=None, keep: str = "first") -> "DataFrame":
        """Boolean duplicate flags per row (pandas ``duplicated``):
        lazy frame of index columns + ``duplicated``."""
        from .operators.dedup import duplicated

        return duplicated(self, subset=subset, keep=keep)

    def drop_duplicates(self, subset=None, keep: str = "first") -> "DataFrame":
        from .operators.dedup import drop_duplicates

        return drop_duplicates(self, subset=subset, keep=keep)

    def dropna(self, subset=None, how: str = "any") -> "DataFrame":
        """Drop rows with nulls (pandas surface; no reference analog —
        eland only exposes per-op dropna flags). Compiles to a plain
        filter, so the null checks push down to the scan."""
        cols = [self._schema.resolve(c) for c in (subset or self._schema.display_names)]
        return self._with(sdf=self._sdf.dropna(how=how, subset=cols))

    def fillna(self, value) -> "DataFrame":
        """Fill nulls with a scalar or a {column: value} dict (pandas
        surface). Pure projection — per-row, shuffle-free."""
        if isinstance(value, dict):
            value = {self._schema.resolve(k): v for k, v in value.items()}
        return self._with(sdf=self._sdf.fillna(value))

    _PD_TO_SPARK_DTYPE = {
        "int64": "bigint", "int32": "int", "float64": "double",
        "float32": "float", "bool": "boolean", "object": "string",
        "string": "string", "datetime64[ns]": "timestamp_ntz",
    }

    def astype(self, dtype) -> "DataFrame":
        """Cast columns pandas-style ({col: dtype} or one dtype for
        all). Casts are codegen'd projections; the schema wrapper is
        updated so downstream agg-compatibility rules see the new
        types."""
        from dataclasses import replace as _replace

        mapping = (
            {c: dtype for c in self._schema.display_names}
            if not isinstance(dtype, dict)
            else dtype
        )
        sdf = self._sdf
        targets = {}
        for disp, dt in mapping.items():
            spark_t = self._PD_TO_SPARK_DTYPE.get(str(dt), str(dt))
            phys = self._schema.resolve(disp)
            sdf = sdf.withColumn(phys, F.col(phys).cast(spark_t))
            targets[phys] = spark_t
        new_types = {f.name: f.dataType for f in sdf.schema.fields}
        fields = tuple(
            _replace(f, spark_type=new_types[f.column_name])
            if f.column_name in targets
            else f
            for f in self._schema.fields
        )
        from .schema import Schema as _Schema

        return self._with(sdf=sdf, schema=_Schema(fields, self._schema.index_cols))

    def get_dummies(
        self,
        columns=None,
        prefix=None,
        prefix_sep: str = "_",
        drop_first: bool = False,
        dummy_na: bool = False,
    ) -> "DataFrame":
        """pandas ``pd.get_dummies`` over named (default: all string)
        columns: one 0/1 indicator column per distinct value, encoded
        columns dropped, everything else unchanged. The value sets are
        resolved at plan time with the same bounded-distinct guard as
        :meth:`crosstab` (10k values per column); the encoding itself
        is a pure per-row projection — zero shuffle at any scale.

        ``dummy_na=True`` adds a ``{col}{sep}nan`` indicator; with the
        default False, null rows are all-zeros (pandas parity).
        ``prefix`` may be a string (applied to every column) or a dict
        per column; default uses the column's own name."""
        schema = self._schema
        if columns is None:
            cols = [
                f.display_name for f in schema.fields
                if isinstance(f.spark_type, T.StringType)
                and f.display_name not in schema.index_cols
            ]
        else:
            cols = [columns] if isinstance(columns, str) else list(columns)
            for c in cols:
                schema.resolve(c)  # raise KeyError early
        if not cols:
            raise ValueError("get_dummies found no columns to encode")

        def _prefix(c):
            if prefix is None:
                return c
            if isinstance(prefix, dict):
                return prefix.get(c, c)
            return prefix

        new_cols = []
        for c in cols:
            rc = F.col(schema.resolve(c))
            rows = (
                self._sdf.select(rc.alias("__v__"))
                .distinct().orderBy("__v__").limit(10001).collect()
            )
            if len(rows) > 10000:
                raise ValueError(
                    f"get_dummies column {c!r} has > 10000 distinct values"
                )
            vals = [r[0] for r in rows if r[0] is not None]
            if drop_first:
                vals = vals[1:]
            p = _prefix(c)
            for v in vals:
                new_cols.append(
                    F.when(rc == F.lit(v), 1).otherwise(0)
                    .cast("int").alias(f"{p}{prefix_sep}{v}")
                )
            if dummy_na:
                new_cols.append(
                    rc.isNull().cast("int").alias(f"{p}{prefix_sep}nan")
                )
        keep = [
            F.col(schema.resolve(c)).alias(c)
            for c in schema.display_names if c not in cols
        ]
        sdf = self._sdf.select(*keep, *new_cols)
        return DataFrame(
            sdf,
            index_cols=tuple(c for c in schema.index_cols if c not in cols),
        )

    def melt(
        self,
        id_vars,
        value_vars=None,
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "DataFrame":
        """Wide->long unpivot (pandas melt; inverse of pivot_table).
        Spark's unpivot is a Generate-style expansion — per-row, no
        shuffle, output rows = len(value_vars) x input rows."""
        ids = [id_vars] if isinstance(id_vars, str) else list(id_vars)
        vals = (
            [value_vars]
            if isinstance(value_vars, str)
            else list(
                value_vars
                or [
                    c
                    for c in self._schema.display_names
                    if c not in ids and self._schema.field(c).is_numeric
                ]
            )
        )
        sdf = self._sdf.unpivot(
            [F.col(self._schema.resolve(c)).alias(c) for c in ids],
            [F.col(self._schema.resolve(c)).alias(c) for c in vals],
            var_name,
            value_name,
        )
        return DataFrame(sdf, index_cols=tuple(c for c in self._schema.index_cols if c in ids))

    def stack(self, dropna: bool = True) -> "DataFrame":
        """pandas ``DataFrame.stack`` for flat columns, as a LAZY long
        frame: every numeric value column melts into rows keyed by
        (index..., ``level_1``) with the values in ``value`` — the
        names pandas gives the stacked level and column in
        ``.stack().reset_index()`` form. Same Generate-style expansion
        as :meth:`melt` (per-row, zero shuffle); ``dropna=True`` drops
        null/NaN cells like pandas. Numeric columns only (Spark's
        unpivot needs one common value type; pandas would fall back to
        object)."""
        icols = list(self.index_cols)
        if not icols:
            raise ValueError("stack needs an index")
        out = self.reset_index().melt(
            id_vars=icols, var_name="level_1", value_name="value"
        )
        sdf = out._sdf
        if dropna:
            sdf = sdf.filter(
                F.col("value").isNotNull() & ~F.isnan(F.col("value").cast("double"))
            )
        return DataFrame(sdf, index_cols=tuple(icols + ["level_1"]))

    def unstack(self, fill_value=None) -> pd.DataFrame:
        """pandas ``DataFrame.unstack``: move the LAST index level to
        columns. Wide pandas result (driver-sized by definition, like
        :meth:`pivot_table`): one duplicate-pair check + one
        single-shuffle pivot per value column; multiple value columns
        produce the pandas (column, level-value) MultiIndex."""
        icols = list(self.index_cols)
        if len(icols) != 2:
            raise ValueError(
                "unstack needs exactly 2 index cols (outer, inner)"
            )
        outer, inner = icols
        schema = self._schema
        vals = [c for c in schema.display_names if c not in icols]
        dup = (
            self._sdf.groupBy(*[schema.resolve(c) for c in icols])
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        if dup is not None and dup > 1:
            raise ValueError("Index contains duplicate entries, cannot reshape")
        base = self.reset_index()
        pieces = [
            base.pivot_table(index=outer, columns=inner, values=c, aggfunc="first")
            for c in vals
        ]
        out = pieces[0] if len(vals) == 1 else pd.concat(
            pieces, axis=1, keys=vals
        )
        if fill_value is not None:
            out = out.fillna(fill_value)
        return out

    def pipe(self, func, *args, **kwargs):
        """pandas ``pipe``: apply ``func(self, *args, **kwargs)`` —
        method-chaining sugar, no plan change of its own."""
        return func(self, *args, **kwargs)

    def insert(self, loc: int, column: str, value) -> None:
        """pandas ``insert``: add a column in place at position
        ``loc`` (metadata-only reorder; the plan gains one
        projection)."""
        if column in self._schema:
            raise ValueError(f"column {column!r} already exists")
        self[column] = value
        names = self._schema.display_names
        names.remove(column)
        names.insert(loc, column)
        self._schema = self._schema.select(names)

    def pop(self, column: str):
        """pandas ``pop``: drop ``column`` from the frame in place and
        return it as a Series (bound to the pre-drop plan)."""
        from .series import Series

        f = self._schema.field(column)
        out = Series(self._with(), F.col(f.column_name), column, f.spark_type)
        self._schema = self._schema.drop([column])
        return out

    def _scalar_arith(self, other, op) -> "DataFrame":
        if not isinstance(other, (int, float)):
            raise TypeError(
                "frame-level arithmetic supports scalars; use Series "
                "expressions (df[col] + ...) for column-wise math"
            )
        from .series import Series

        out = self._with()
        for f in self._schema.fields:
            if f.is_numeric:
                expr = op(
                    F.col(f.column_name).cast("double"), F.lit(float(other))
                )
                out[f.display_name] = Series(
                    out, expr, f.display_name, T.DoubleType(), True
                )
        return out

    def add(self, other) -> "DataFrame":
        """pandas ``DataFrame.add(scalar)``: elementwise over the
        numeric columns — pure projection, zero shuffle."""
        return self._scalar_arith(other, lambda c, o: c + o)

    def sub(self, other) -> "DataFrame":
        return self._scalar_arith(other, lambda c, o: c - o)

    def mul(self, other) -> "DataFrame":
        return self._scalar_arith(other, lambda c, o: c * o)

    def div(self, other) -> "DataFrame":
        from .series import Series

        return self._scalar_arith(other, lambda c, o: Series._ieee_div(c, o))

    __add__ = add
    __sub__ = sub
    __mul__ = mul
    __truediv__ = div

    def compare(self, other: "DataFrame") -> "DataFrame":
        """pandas ``DataFrame.compare``: rows where any shared column
        differs, emitting ``<col>_self`` / ``<col>_other`` pairs (flat
        columns instead of pandas' MultiIndex — Spark has no column
        MultiIndex). One index-equi-join; null==null counts as equal
        (pandas semantics via null-safe equality)."""
        icols = list(self.index_cols)
        if not icols or tuple(icols) != tuple(other.index_cols):
            raise ValueError("compare needs both frames indexed identically")
        shared = [
            c for c in self._schema.display_names
            if c in other._schema and c not in icols
        ]
        if not shared:
            raise ValueError("no shared columns to compare")
        lsel = [F.col(self._schema.resolve_any(c)).alias(c) for c in icols] + [
            F.col(self._schema.resolve(c)).alias(f"{c}_self") for c in shared
        ]
        rsel = [F.col(other._schema.resolve_any(c)).alias(c) for c in icols] + [
            F.col(other._schema.resolve(c)).alias(f"{c}_other") for c in shared
        ]
        j = self._sdf.select(*lsel).join(other._sdf.select(*rsel), on=icols)
        any_diff = None
        for c in shared:
            d = ~F.col(f"{c}_self").eqNullSafe(F.col(f"{c}_other"))
            any_diff = d if any_diff is None else (any_diff | d)
        out_cols = [F.col(c) for c in icols]
        for c in shared:
            eq = F.col(f"{c}_self").eqNullSafe(F.col(f"{c}_other"))
            # pandas masks equal cells with NaN in both columns
            out_cols.append(F.when(~eq, F.col(f"{c}_self")).alias(f"{c}_self"))
            out_cols.append(F.when(~eq, F.col(f"{c}_other")).alias(f"{c}_other"))
        return DataFrame(
            j.filter(any_diff).select(*out_cols), index_cols=tuple(icols)
        )

    def combine_first(self, other: "DataFrame") -> "DataFrame":
        """pandas ``DataFrame.combine_first``: patch nulls (and missing
        rows) in ``self`` with ``other`` — ONE full-outer index join +
        per-column coalesce; the union of rows and columns like
        pandas."""
        icols = list(self.index_cols)
        if not icols or tuple(icols) != tuple(other.index_cols):
            raise ValueError("combine_first needs both frames indexed identically")
        mine = [c for c in self._schema.display_names if c not in icols]
        theirs = [c for c in other._schema.display_names if c not in icols]
        all_cols = list(dict.fromkeys(mine + theirs))
        lsel = [F.col(self._schema.resolve_any(c)).alias(c) for c in icols] + [
            F.col(self._schema.resolve(c)).alias(f"__l_{c}") for c in mine
        ]
        rsel = [F.col(other._schema.resolve_any(c)).alias(c) for c in icols] + [
            F.col(other._schema.resolve(c)).alias(f"__r_{c}") for c in theirs
        ]
        j = self._sdf.select(*lsel).join(
            other._sdf.select(*rsel), on=icols, how="full_outer"
        )
        out_cols = [F.col(c) for c in icols]
        for c in all_cols:
            if c in mine and c in theirs:
                e = F.coalesce(F.col(f"__l_{c}"), F.col(f"__r_{c}"))
            elif c in mine:
                e = F.col(f"__l_{c}")
            else:
                e = F.col(f"__r_{c}")
            out_cols.append(e.alias(c))
        return DataFrame(j.select(*out_cols), index_cols=tuple(icols))

    def reindex(
        self,
        index=None,
        columns=None,
        method: "str | None" = None,
        fill_value=None,
    ) -> "DataFrame":
        """pandas ``DataFrame.reindex``: conform to new row labels
        and/or columns.

        ``index`` is a list-like of target labels (single-column index
        only): one NULL-SAFE left join of the (small, broadcastable)
        label table onto the frame — labels present keep their row,
        missing labels produce a null row (or ``fill_value``).
        ``method='ffill'/'pad'`` (and ``'bfill'/'backfill'``) fills
        missing labels from the nearest preceding (following) EXISTING
        label — the as-of join (operators/asof.py), so the plan is the
        usual one-exchange keyed running fill, never a per-label scan.
        Divergence from pandas: pandas requires a monotonic index for
        ``method`` and raises otherwise; the as-of formulation is
        order-free and simply computes the value-ordered fill (equal
        results whenever pandas accepts). ``fill_value`` applies to
        newly-introduced cells only (existing nulls survive), and is
        ignored when ``method`` fills.

        Like pandas, raises on duplicate source labels (one eager
        bounded existence check — same pattern as ``merge(validate=)``).
        """
        if method not in (None, "ffill", "pad", "bfill", "backfill"):
            raise ValueError(
                f"method must be None/ffill/pad/bfill/backfill, got {method!r}"
            )
        out = self
        if index is not None:
            out = out._reindex_rows(list(index), method, fill_value)
        if columns is not None:
            out = out._reindex_columns(list(columns), fill_value)
        return out

    def _reindex_rows(self, labels: list, method, fill_value) -> "DataFrame":
        icols = list(self.index_cols)
        if len(icols) != 1:
            raise ValueError(
                "reindex(index=...) needs exactly one index column"
            )
        ic = icols[0]
        vals = [c for c in self._schema.display_names if c != ic]
        proj = self._sdf.select(
            F.col(self._schema.resolve_any(ic)).alias(ic),
            *[F.col(self._schema.resolve(c)).alias(c) for c in vals],
        )
        spark = self._sdf.sparkSession
        itype = proj.schema[ic].dataType

        def _py(v):
            # createDataFrame's NTZ/long verifiers reject pandas/numpy
            # scalars — normalize to plain Python objects
            if hasattr(v, "to_pydatetime"):
                return v.to_pydatetime()
            if hasattr(v, "item") and type(v).__module__ == "numpy":
                return v.item()
            return v

        pyl = [_py(v) for v in labels]
        if method is not None and len(pyl) <= _REINDEX_FOLD_MAX and all(
            v is not None and v == v for v in pyl
        ):
            # Driver-fold fast path: the label list is driver-provided
            # (model-sized by construction, same rule as fdr_bh). Each
            # label's as-of match is a conditional max/min — ONE agg
            # pass over the source computes every match AND the
            # duplicate-axis existence check (count vs distinct),
            # replacing the whole rank/bucket fill plan (range-sample
            # job + cache fill + two collects) with a single job. The
            # join-back then prefilters the scan with isin(matched
            # keys) — parquet prunes to the handful of matched rows.
            return self._reindex_rows_fold(proj, ic, vals, pyl, method)
        # pandas: "cannot reindex from a duplicate axis"
        dup = (
            proj.groupBy(ic).count().where(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError("cannot reindex from a duplicate axis")
        tgt = spark.createDataFrame(
            [(v,) for v in pyl],
            T.StructType([T.StructField(ic, itype)]),
        )
        if method is not None:
            # fill the matched source KEY through the windowless
            # global-fill bucket plan (operators/ranking — no
            # single-partition window, unlike an unkeyed as-of join),
            # then one join back fetches the matched row VERBATIM (a
            # matched row's own nulls survive — row semantics, like
            # pandas; never a per-column last-non-null)
            from .operators.ranking import with_global_fill

            fwd = method in ("ffill", "pad")
            # tie order at an equal label: the source row must be
            # visible to the fill scan (exact matches take their own
            # row) — before the target for ffill's ascending scan,
            # after it for bfill's descending scan
            src_tie = 0 if fwd else 2
            u = tgt.select(
                F.col(ic), F.lit(None).cast(itype).alias("__m__"),
                F.lit(1).alias("__t__"),
            ).unionByName(
                proj.select(
                    F.col(ic), F.col(ic).alias("__m__"),
                    F.lit(src_tie).alias("__t__"),
                )
            )
            filled = with_global_fill(
                u, [ic, "__t__"], ["__m__"], forward=fwd
            )
            matched = filled.filter(F.col("__t__") == 1).select(
                F.col(ic).alias("__lbl__"), "__m__"
            )
            # plain equality: a null __m__ (no preceding source row)
            # must stay unmatched, not null-safe-match a null label
            joined = matched.join(
                proj, F.col("__m__") == F.col(ic), "left"
            )
            return DataFrame(
                joined.select(
                    F.col("__lbl__").alias(ic),
                    *[F.col(c) for c in vals],
                ),
                index_cols=(ic,),
            )
        lbl = tgt.select(F.col(ic).alias("__lbl__"))
        hit = proj.withColumn("__hit__", F.lit(1))
        joined = lbl.join(
            hit, F.col("__lbl__").eqNullSafe(F.col(ic)), "left"
        )
        vtypes = {f.name: f.dataType for f in proj.schema.fields}
        sel = [F.col("__lbl__").alias(ic)]
        for c in vals:
            e = F.col(c)
            if fill_value is not None:
                # only newly-introduced cells (missing labels) fill;
                # nulls already in the frame survive, like pandas. The
                # fill is CAST to each column's type (divergence:
                # pandas drops a numeric fill into object columns
                # untouched; a lazy plan needs one type per column)
                e = F.when(
                    F.col("__hit__").isNull(),
                    F.lit(fill_value).cast(vtypes[c]),
                ).otherwise(e)
            sel.append(e.alias(c))
        return DataFrame(joined.select(*sel), index_cols=(ic,))

    def _reindex_rows_fold(
        self, proj, ic: str, vals: list, pyl: list, method
    ) -> "DataFrame":
        """reindex(method=) for a bounded label list: ONE agg job folds
        every label's as-of matched source key (conditional max for
        ffill / min for bfill — exact matches take their own key via
        <= / >=) plus the duplicate-axis check onto the driver; the
        matched rows come back VERBATIM through an isin-pruned scan +
        broadcast join (a matched row's own nulls survive — row
        semantics, identical to the global-fill path)."""
        spark = self._sdf.sparkSession
        itype = proj.schema[ic].dataType
        key = F.col(ic)
        fwd = method in ("ffill", "pad")
        if fwd:
            maggs = [
                F.max(F.when(key <= F.lit(v).cast(itype), key)).alias(
                    f"__m_{i}__"
                )
                for i, v in enumerate(pyl)
            ]
        else:
            maggs = [
                F.min(F.when(key >= F.lit(v).cast(itype), key)).alias(
                    f"__m_{i}__"
                )
                for i, v in enumerate(pyl)
            ]
        row = proj.agg(
            F.count(F.lit(1)).alias("__n__"),
            F.countDistinct(key).alias("__nd__"),
            F.count(F.when(key.isNull(), F.lit(1))).alias("__nn__"),
            *maggs,
        ).first()
        # duplicate iff total rows exceed distinct non-null keys plus
        # at-most-one null key (nulls compare equal as pandas labels)
        if row["__n__"] != row["__nd__"] + min(int(row["__nn__"]), 1):
            raise ValueError("cannot reindex from a duplicate axis")
        matched = [(v, row[f"__m_{i}__"]) for i, v in enumerate(pyl)]
        hit = [(lbl, m) for lbl, m in matched if m is not None]
        miss = [lbl for lbl, m in matched if m is None]
        vtypes = {f.name: f.dataType for f in proj.schema.fields}
        branches = []
        if hit:
            mdf = spark.createDataFrame(
                hit,
                T.StructType(
                    [
                        T.StructField("__lbl__", itype),
                        T.StructField("__m__", itype),
                    ]
                ),
            )
            keys = [
                F.lit(m).cast(itype) for m in {m for _, m in hit}
            ]
            branches.append(
                proj.where(key.isin(*keys))
                .join(F.broadcast(mdf), F.col("__m__") == key, "inner")
                .select(
                    F.col("__lbl__").alias(ic), *[F.col(c) for c in vals]
                )
            )
        if miss:
            mfd = spark.createDataFrame(
                [(v,) for v in miss],
                T.StructType([T.StructField(ic, itype)]),
            )
            branches.append(
                mfd.select(
                    F.col(ic),
                    *[F.lit(None).cast(vtypes[c]).alias(c) for c in vals],
                )
            )
        if not branches:  # empty label list: schema-correct empty frame
            branches = [proj.where(F.lit(False)).select(ic, *vals)]
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return DataFrame(out, index_cols=(ic,))

    def _reindex_columns(self, columns: list, fill_value) -> "DataFrame":
        icols = list(self.index_cols)
        have = set(self._schema.display_names)
        sel = [
            F.col(self._schema.resolve_any(c)).alias(c) for c in icols
        ]
        for c in columns:
            if c in icols:
                continue
            if c in have:
                sel.append(F.col(self._schema.resolve(c)).alias(c))
            else:
                e = (
                    F.lit(fill_value)
                    if fill_value is not None
                    else F.lit(None).cast("double")
                )
                sel.append(e.alias(c))
        return DataFrame(self._sdf.select(*sel), index_cols=tuple(icols))

    def align(
        self,
        other: "DataFrame",
        join: str = "outer",
        axis: "int | None" = None,
        fill_value=None,
    ) -> "tuple[DataFrame, DataFrame]":
        """pandas ``DataFrame.align``: conform two frames to a shared
        row-label set and/or column set; returns ``(left, right)``.

        Rows (``axis`` None or 0): the shared key set is built
        ENGINE-SIDE from the two index-column sets (union distinct /
        intersect / one side, per ``join``) — never a driver collect —
        then each side is one left join of the key frame onto its rows.
        Columns (``axis`` None or 1): union (sorted, pandas
        ``Index.union`` convention) or intersection of display names;
        columns missing on a side materialize as nulls (or
        ``fill_value``). Divergence: duplicate index labels fan out
        SQL-style instead of raising."""
        if join not in ("outer", "inner", "left", "right"):
            raise ValueError(f"join must be outer/inner/left/right, got {join!r}")
        if axis not in (None, 0, 1):
            raise ValueError("axis must be None, 0, or 1")
        icols = list(self.index_cols)
        if not icols or tuple(icols) != tuple(other.index_cols):
            raise ValueError("align needs both frames indexed identically")

        lcols = [c for c in self._schema.display_names if c not in icols]
        rcols = [c for c in other._schema.display_names if c not in icols]
        if axis == 0 or (axis in (None, 1) and lcols == rcols):
            # columns untouched per side (or already identical)
            lcols_out, rcols_out = lcols, rcols
        else:
            if join == "outer":
                cols = sorted(dict.fromkeys(lcols + rcols))
            elif join == "inner":
                cols = sorted(c for c in lcols if c in set(rcols))
            elif join == "left":
                cols = lcols
            else:
                cols = rcols
            lcols_out = rcols_out = cols

        def _proj(frame, value_cols):
            sel = [
                F.col(frame._schema.resolve_any(c)).alias(c) for c in icols
            ]
            have = set(frame._schema.display_names)
            for c in value_cols:
                if c in have:
                    sel.append(F.col(frame._schema.resolve(c)).alias(c))
                else:
                    e = (
                        F.lit(fill_value)
                        if fill_value is not None
                        else F.lit(None).cast("double")
                    )
                    sel.append(e.alias(c))
            return frame._sdf.select(*sel)

        lsdf, rsdf = _proj(self, lcols_out), _proj(other, rcols_out)

        if axis in (None, 0):
            lk = lsdf.select(*icols)
            rk = rsdf.select(*icols)
            if join == "outer":
                keys = lk.unionByName(rk).distinct()
            elif join == "inner":
                keys = lk.intersect(rk)
            elif join == "left":
                keys = lk.distinct()
            else:
                keys = rk.distinct()

            def _conform(sdf, value_cols):
                hit = sdf.withColumn("__hit__", F.lit(1))
                vtypes = {f.name: f.dataType for f in sdf.schema.fields}
                j = keys.join(hit, icols, "left")
                sel = [F.col(c) for c in icols]
                for c in value_cols:
                    e = F.col(c)
                    if fill_value is not None:
                        e = F.when(
                            F.col("__hit__").isNull(),
                            F.lit(fill_value).cast(vtypes[c]),
                        ).otherwise(e)
                    sel.append(e.alias(c))
                return j.select(*sel)

            lsdf = _conform(lsdf, lcols_out)
            rsdf = _conform(rsdf, rcols_out)
        return (
            DataFrame(lsdf, index_cols=tuple(icols)),
            DataFrame(rsdf, index_cols=tuple(icols)),
        )

    # ------------------------------------------------------------------
    # frame-wide global-order ops (pandas surface; windowless plans)
    # ------------------------------------------------------------------
    def _order_base(self, numeric_only: bool, double: bool = False):
        """(sdf with index + target cols aliased to display names,
        index names, value names) for the frame-wide order ops;
        ``double`` casts the value columns (rolling/expanding/ewm
        return floats for every input dtype, like pandas)."""
        icols = list(self.index_cols)
        if not icols:
            raise ValueError("frame order ops need an index for a total order")
        schema = self._schema
        if numeric_only:
            vals = [
                f.display_name
                for f in schema.fields
                if f.is_numeric and f.display_name not in icols
            ]
        else:
            vals = [
                f.display_name for f in schema.fields if f.display_name not in icols
            ]
        if not vals:
            raise ValueError("no applicable columns")
        sel = [F.col(schema.resolve_any(c)).alias(c) for c in icols] + [
            (
                F.col(schema.resolve(c)).cast("double")
                if double
                else F.col(schema.resolve(c))
            ).alias(c)
            for c in vals
        ]
        return self._sdf.select(*sel), icols, vals

    def shift(self, periods: int = 1) -> "DataFrame":
        """pandas ``DataFrame.shift`` over the global index order: ONE
        rank pass + ONE position self-join carries every column
        (operators/ranking.with_global_shift) — balanced hash shuffle
        on the dense position key, no single-partition window."""
        return self._order_op("shift", periods)

    def diff(self, periods: int = 1) -> "DataFrame":
        """pandas ``DataFrame.diff`` (numeric columns) — same
        one-join multi-column plan as :meth:`shift`."""
        return self._order_op("diff", periods)

    def pct_change(self, periods: int = 1) -> "DataFrame":
        """pandas ``DataFrame.pct_change`` (numeric columns) — IEEE
        division (prev 0 -> ±inf, not an ANSI error)."""
        return self._order_op("pct_change", periods)

    def _order_op(self, how: str, periods: int = 1) -> "DataFrame":
        base, icols, vals = self._order_base(numeric_only=how != "shift")
        out = _global_order_op(base, icols, vals, how, periods)
        return DataFrame(out, index_cols=tuple(icols))

    def cumsum(self) -> "DataFrame":
        """pandas ``DataFrame.cumsum`` (numeric columns, skipna):
        every column through ONE windowless bucket plan — one balanced
        exchange + a driver prefix-combine of per-bucket totals
        (operators/ranking.with_global_cumagg)."""
        return self._order_op("cumsum")

    def cummax(self) -> "DataFrame":
        """pandas ``DataFrame.cummax`` — same multi-column bucket plan."""
        return self._order_op("cummax")

    def cummin(self) -> "DataFrame":
        """pandas ``DataFrame.cummin`` — same multi-column bucket plan."""
        return self._order_op("cummin")

    def cumprod(self) -> "DataFrame":
        """pandas ``DataFrame.cumprod`` (numeric, skipna) — the same
        multi-column bucket plan with a TRUE running product
        (``F.product`` within buckets, driver prefix-multiply across
        them): zeros and signs exact, no log/exp detour."""
        return self._order_op("cumprod")

    def ffill(self) -> "DataFrame":
        """pandas ``DataFrame.ffill`` over the global index order:
        last-non-null is a running semigroup, so the cumulative bucket
        plan applies — one balanced exchange fills EVERY column
        (operators/ranking.with_global_fill); no single-partition
        window."""
        return self._frame_fill(forward=True)

    def bfill(self) -> "DataFrame":
        """pandas ``DataFrame.bfill`` — the reversed-order twin."""
        return self._frame_fill(forward=False)

    def interpolate(
        self, method: str = "linear", limit: int | None = None
    ) -> "DataFrame":
        """pandas ``DataFrame.interpolate(method='linear')`` over the
        global index order: every NUMERIC column linearly interpolated
        on row position in ONE balanced exchange (the ffill bucket
        plan, operators/ranking.with_global_interpolate); forward
        limit_direction — interior gaps get the straight line, trailing
        nulls carry the last valid, leading nulls stay null. Non-numeric
        columns are excluded (pandas raises on object dtype)."""
        if method != "linear":
            raise NotImplementedError(
                "interpolate: only method='linear' is supported"
            )
        from .operators.ranking import with_global_interpolate

        base, icols, vals = self._order_base(numeric_only=True)
        out = with_global_interpolate(base, icols, vals, limit=limit)
        return DataFrame(
            out.select(*icols, *vals), index_cols=tuple(icols)
        )

    def _frame_fill(self, forward: bool) -> "DataFrame":
        from .operators.ranking import with_global_fill

        base, icols, vals = self._order_base(numeric_only=False)
        out = with_global_fill(base, icols, vals, forward=forward)
        return DataFrame(
            out.select(*icols, *vals), index_cols=tuple(icols)
        )

    def nlargest(self, n: int, columns) -> "DataFrame":
        """Top-n rows by column value(s) (pandas surface; no reference
        analog). Compiles to TakeOrdered — per-partition top-n then a
        driver merge of n-row heaps, NO full sort shuffle."""
        return self._n_extreme(n, columns, asc=False)

    def nsmallest(self, n: int, columns) -> "DataFrame":
        return self._n_extreme(n, columns, asc=True)

    # -- pandas conveniences (net-new; the reference has none of these) --

    def value_counts(
        self,
        subset=None,
        normalize: bool = False,
        sort: bool = True,
        ascending: bool = False,
        dropna: bool = True,
    ) -> pd.Series:
        """pandas ``DataFrame.value_counts``: unique-ROW frequencies
        over ``subset`` (default all columns). One hash aggregation;
        only the distinct combinations reach the driver — and, like
        ``get_dummies``/``pivot``/``crosstab``, at most 10,000 of them
        (the materialized pandas return makes the distinct-row set a
        driver allocation, so a high-cardinality subset raises instead
        of OOMing the driver; pre-aggregate or filter first)."""
        cols = [subset] if isinstance(subset, str) else list(subset or self.columns)
        exprs = [F.col(self._schema.resolve(c)).alias(c) for c in cols]
        g = self._sdf.groupBy(*exprs)
        counted = g.agg(F.count(F.lit(1)).alias("__n__"))
        if dropna:
            for c in cols:
                counted = counted.filter(F.col(c).isNotNull())
        rows = counted.limit(10001).collect()
        if len(rows) > 10000:
            raise ValueError(
                f"value_counts subset {cols!r} has > 10000 distinct rows; "
                "the pandas-Series return would materialize them all on "
                "the driver — aggregate engine-side instead "
                "(groupby(...).size() or a curation sketch)"
            )
        # pandas always returns a MultiIndex (even for one column) with
        # NaN — not None — for missing keys
        idx = pd.MultiIndex.from_tuples(
            [
                tuple(np.nan if r[c] is None else r[c] for c in cols)
                for r in rows
            ],
            names=cols,
        )
        out = pd.Series([r["__n__"] for r in rows], index=idx, name="count")
        if normalize:
            out = (out / out.sum()).rename("proportion")
        if sort:
            out = out.sort_values(ascending=ascending, kind="mergesort")
        else:
            out = out.sort_index()
        return out

    def isin(self, values) -> "DataFrame":
        """Boolean membership mask per cell (pandas ``isin``): lazy
        projection. ``values`` is a list (all columns) or a dict of
        column -> list."""
        schema = self._schema
        icols = [F.col(schema.resolve(c)).alias(c) for c in schema.index_cols]
        masks = []
        for f in schema.fields:
            if f.display_name in schema.index_cols:
                continue
            vals = (
                values.get(f.display_name, [])
                if isinstance(values, dict)
                else list(values)
            )
            # pandas checks per-element VALUE equality: a string in the
            # list can never match a numeric column (and ANSI Spark
            # would throw on the cast) — keep only type-compatible
            # candidates per column
            if f.is_numeric:
                vals = [
                    v for v in vals
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                ]
            elif f.spark_type.simpleString() == "string":
                vals = [v for v in vals if isinstance(v, str)]
            expr = (
                F.col(f.column_name).isin(vals)
                if vals
                else F.lit(False)
            )
            masks.append(F.coalesce(expr, F.lit(False)).alias(f.display_name))
        return DataFrame(
            self._sdf.select(*icols, *masks), index_cols=tuple(schema.index_cols)
        )

    def equals(self, other: "DataFrame") -> bool:
        """Exact equality of contents (pandas ``equals``): same columns
        and dtypes, identical row multiset. Two symmetric exceptAll
        checks — no driver-side materialization of the data."""
        if list(self.columns) != list(other.columns):
            return False
        if [str(d) for d in self.dtypes] != [str(d) for d in other.dtypes]:
            return False
        a, b = self._projected(), other._projected()
        if a.count() != b.count():
            return False
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def take(self, indices) -> "DataFrame":
        """Rows at POSITIONAL indices (pandas ``take``). Positions
        resolve via the distributed global-rank operator (one range
        exchange, no single-partition cliff); negatives count from the
        end. Duplicate positions repeat the row (via a broadcast join
        against one literal row per occurrence) and out-of-range
        positions raise ``IndexError`` — pandas semantics for
        DUPLICATES and BOUNDS (ADVICE r2/r3). Known divergence: rows
        come back in INDEX order, not in the order of ``indices``
        (``take([3, 1])`` yields row 1 before row 3 on materialization)
        — a distributed result has no inherent row order to preserve.
        The bounds check costs one eager count() job (cheap on a raw
        parquet scan — footer row counts); pandas raises eagerly here
        and so do we."""
        from .operators.ranking import with_global_rank

        original = [int(i) for i in indices]
        total = self._sdf.count()
        indices = [i if i >= 0 else total + i for i in original]
        bad = [o for o, i in zip(original, indices) if i < 0 or i >= total]
        if bad:
            raise IndexError(
                f"indices {bad[:5]} are out of bounds for axis 0 with size {total}"
            )
        icols = list(self._schema.index_cols)
        ranked = with_global_rank(self._projected(), icols, rank_col="__pos__")
        spark = self._sdf.sparkSession
        # one literal row per OCCURRENCE so duplicate positions fan out
        occ = [(i + 1,) for i in indices]
        wanted = spark.createDataFrame(occ, "`__pos__` bigint")
        keep = ranked.join(
            F.broadcast(wanted), on="__pos__", how="inner"
        ).drop("__pos__")
        return DataFrame(keep, index_cols=tuple(icols))

    def items(self):
        """Iterate (column name, Series) pairs (pandas ``items``)."""
        for name in self.columns:
            yield name, self[name]

    def to_dict(self, orient: str = "dict"):
        return self.to_pandas(set_index=True).to_dict(orient=orient)

    def to_records(self, index: bool = True):
        return self.to_pandas(set_index=True).to_records(index=index)

    def add_prefix(self, prefix: str) -> "DataFrame":
        # data columns only — pandas leaves the index name alone
        return self.rename(
            columns={
                c: f"{prefix}{c}"
                for c in self.columns
                if c not in self._schema.index_cols
            }
        )

    def add_suffix(self, suffix: str) -> "DataFrame":
        return self.rename(
            columns={
                c: f"{c}{suffix}"
                for c in self.columns
                if c not in self._schema.index_cols
            }
        )

    def squeeze(self, axis=None):
        """Single-column frame -> Series (pandas ``squeeze``); wider
        frames return self unchanged."""
        cols = list(self.columns)
        if len(cols) == 1:
            return self[cols[0]]
        return self

    def _n_extreme(self, n: int, columns, asc: bool) -> "DataFrame":
        cols = [columns] if isinstance(columns, str) else list(columns)
        order = [
            # pandas ranks NaN rows last in BOTH directions (they only
            # fill up n when non-null rows run out); Spark's bare asc()
            # would rank nulls first in nsmallest
            F.col(self._schema.resolve(c)).asc_nulls_last()
            if asc
            else F.col(self._schema.resolve(c)).desc_nulls_last()
            for c in cols
        ]
        # index tie-break keeps the result deterministic (pandas
        # keep='first' on a frame ordered by the index)
        order += [F.col(c).asc() for c in self._schema.index_cols]
        spec = tuple((self._schema.resolve(c), asc, True) for c in cols)
        return self._with(sdf=self._sdf.orderBy(*order).limit(int(n)), order=spec)

    # ------------------------------------------------------------------
    # aggregations (reference eland/operations.py:148-758)
    # ------------------------------------------------------------------
    @staticmethod
    def _moment_flush(c: Column) -> Column:
        """Flush |x| < 1e-30 to 0.0 for the builtin skewness/kurtosis
        argument: under ANSI, their final division throws when the
        central moment power UNDERFLOWS (possible only for
        subnormal-magnitude data, since unflushed doubles >= 1e-30
        can't produce m2 below ~1e-92/n). Groups the flush could affect
        all fall under pandas' absolute m2 < 1e-14 -> 0.0 guard, so
        results are unchanged; for everything else the perturbation is
        bounded by n * 1e-30 * scale, orders below float noise. Nulls
        and NaNs pass through untouched."""
        return F.when(F.abs(c) < 1e-30, F.lit(0.0)).otherwise(c)

    @staticmethod
    def _skew_expr(c: Column) -> Column:
        """Sample-adjusted skew (see _AGG_EXPRS['skew'] comments).
        Shared sub-expressions (count/var_samp/skewness) are built ONCE
        and reused across the guard branches — Catalyst dedups the
        aggregate buffers either way, but building each F.* Column is a
        Py4J round-trip and the guards made query-construction time a
        measurable slice of a short agg query (VERDICT r3 #3)."""
        n = F.count(c)
        nd = n.cast("double")
        n1 = n - F.lit(1)
        sk = F.skewness(DataFrame._moment_flush(c))
        m2 = F.var_samp(c) * n1
        return (
            F.when(n < 3, F.lit(None).cast("double"))
            .when(m2 < 1e-14, F.lit(0.0))
            .when(F.abs(sk * F.pow(m2, F.lit(1.5)) / F.sqrt(nd)) < 1e-14, F.lit(0.0))
            .otherwise(sk * F.sqrt(nd * n1) / (n - F.lit(2)))
        )

    @staticmethod
    def _kurt_expr(c: Column) -> Column:
        """Sample-adjusted excess kurtosis (see _AGG_EXPRS['kurt']
        comments); same build-once structure as _skew_expr."""
        n = F.count(c)
        n2, n3 = n - F.lit(2), n - F.lit(3)
        m2 = F.var_samp(c) * (n - F.lit(1))
        kt = F.kurtosis(DataFrame._moment_flush(c))
        return (
            F.when(n < 4, F.lit(None).cast("double"))
            .when(n2 * n3 * F.pow(m2, F.lit(2.0)) < 1e-14, F.lit(0.0))
            .otherwise(
                (kt * (n + F.lit(1)) + 6)
                * (n - F.lit(1)).cast("double")
                / (n2 * n3)
            )
        )

    _AGG_EXPRS = {
        "count": lambda c: F.count(c),
        "sum": lambda c: F.sum(c),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
        "mean": lambda c: F.avg(c),
        "std": lambda c: F.stddev_samp(c),
        "var": lambda c: F.var_samp(c),
        "nunique": lambda c: F.countDistinct(c),
        "median": lambda c: F.percentile(c, F.lit(0.5)),
        # standard error of the mean: std/sqrt(n) with non-null n —
        # the reference raises NotImplementedError for sem
        # (eland/operations.py:1144-1146); native single-pass agg here
        "sem": lambda c: F.stddev_samp(c) / F.sqrt(F.count(c)),
        # any_value over a deduplicated group (pivot's no-agg reshape)
        "first": lambda c: F.first(c, ignorenulls=False),
        # sample-adjusted Fisher-Pearson skew (pandas G1 == DuckDB/Excel
        # SKEW): Spark's skewness() is the population g1, rescaled by
        # sqrt(n(n-1))/(n-2). Guards mirror pandas nanskew: n<3 -> NaN
        # (the when() keeps the ANSI division off the n-2==0 groups),
        # zero variance -> 0.0 (Spark's own skewness is NaN there)
        # pandas' floating-point guard is ABSOLUTE on the central
        # moment m2 = var*(n-1), not on the variance: nanskew/_nankurt
        # run _zero_out_fperr (|m2| < 1e-14 -> 0) before dividing, so
        # near-constant data reads as zero skew/kurt even when the
        # exact statistic is large (e.g. [0, 0, 2e-16] -> skew 0.0,
        # not sqrt(3)). Found by the hypothesis differential.
        # ... and the SAME absolute guard zeroes m3 = skewness*m2^1.5/
        # sqrt(n): near-symmetric tiny data (m3 < 1e-14 but m2 >= 1e-14,
        # e.g. [0, 0, 1e-5]) reads as skew 0.0 in pandas even though the
        # exact G1 is sqrt(3). Found by the FUZZ_EXAMPLES=60 campaign.
        # The builtin's argument goes through _moment_flush: aggregate
        # branches evaluate UNconditionally (the CASE only selects the
        # result), and under ANSI Spark's skewness/kurtosis throw
        # DIVIDE_BY_ZERO when m2^1.5 / m2^2 UNDERFLOWS (0 < m2 < ~6e-216
        # — subnormal-magnitude data; exact m2 == 0 is special-cased to
        # NULL). Flushing |x| < 1e-30 to 0 lifts any nonzero m2 above
        # the underflow zone while every affected group already takes
        # the m2 < 1e-14 -> 0.0 guard branch, so no reachable result
        # changes. Found by the FUZZ_EXAMPLES=150 campaign (r3).
        "skew": lambda c: DataFrame._skew_expr(c),
        # sample-adjusted excess kurtosis (pandas G2 == DuckDB kurtosis):
        # Spark's kurtosis() is population g2; G2 = (n-1)((n+1)g2+6)/((n-2)(n-3));
        # same nankurt guards (n<4 -> NaN; pandas' denominator
        # (n-2)(n-3)m2^2 zeroed below 1e-14 -> 0.0)
        "kurt": lambda c: DataFrame._kurt_expr(c),
        # empty product is 1 (pandas min_count=0 identity)
        "prod": lambda c: F.coalesce(F.product(c), F.lit(1.0)),
        # pandas any/all: nulls skipped (bool_or/bool_and ignore NULLs);
        # empty -> any=False / all=True identities via coalesce
        "any": lambda c: F.coalesce(F.bool_or(c != 0), F.lit(False)),
        "all": lambda c: F.coalesce(F.bool_and(c != 0), F.lit(True)),
    }
    _APPROX_EXPRS = {
        "nunique": lambda c: F.approx_count_distinct(c),
        "median": lambda c: F.percentile_approx(c, 0.5),
    }

    def _agg_expr(self, agg: str, field: Field, approx: bool = False) -> Column:
        col = F.col(field.column_name)
        if field.is_bool and agg in (
            "sum", "mean", "std", "var", "median", "sem",
            "skew", "kurt", "prod", "any", "all",
        ):
            col = col.cast("long")
        if field.is_timestamp and agg in ("mean", "median"):
            # timestamps support mean/percentiles via epoch millis, like
            # the reference's epoch-millis unpack (eland/operations.py:716-736)
            millis = F.unix_millis(col.cast("timestamp"))
            inner = (
                F.avg(millis)
                if agg == "mean"
                else (
                    F.percentile_approx(millis, 0.5)
                    if approx
                    else F.percentile(millis, F.lit(0.5))
                )
            )
            return F.timestamp_millis(inner.cast("long")).cast(
                field.spark_type.simpleString()
            )
        table = dict(self._AGG_EXPRS)
        if approx:
            table.update(self._APPROX_EXPRS)
        expr = table[agg](col)
        if agg == "sum" and not field.is_timestamp:
            # Spark sum over zero non-null rows is NULL; pandas is 0
            # (min_count=0). coalesce with an int literal keeps the sum's
            # own type (long stays long, double stays double).
            expr = F.coalesce(expr, F.lit(0))
        return expr

    def _agg_row(self, pairs: list[tuple[str, Field]], approx: bool = False):
        """One Spark job computing every (agg, field) pair — mirrors the
        reference's single multi-agg request (eland/operations.py:308-418)."""
        exprs = [
            self._agg_expr(a, f, approx).alias(f"{a}__{f.display_name}")
            for a, f in pairs
        ]
        return self._sdf.agg(*exprs).collect()[0]

    def _restore(self, value, field: Field, agg: str):
        """Dtype restoration after agg (reference
        eland/operations.py:698-758): bool min/max back to bool, missing
        numeric -> NaN, missing datetime -> NaT. Spark's sum over zero
        non-null rows is NULL, pandas' is 0.0 (min_count=0) — pandas
        semantics win at this layer."""
        if value is None:
            if agg == "sum" and not field.is_timestamp:
                return 0.0
            return pd.NaT if field.is_timestamp else np.nan
        if field.is_bool and agg in ("min", "max"):
            return bool(value)
        return value

    def _metric_agg(self, agg: str, numeric_only: bool | None = True, approx: bool = False) -> pd.Series:
        fields = self._schema.numeric_fields(numeric_only, agg)
        computable = [f for f in fields if f.is_agg_compatible(agg)]
        row = self._agg_row([(agg, f) for f in computable]) if computable else {}
        out = {}
        for f in fields:
            if f.is_agg_compatible(agg):
                out[f.display_name] = self._restore(row[f"{agg}__{f.display_name}"], f, agg)
            else:
                # numeric_only=False pads incompatible columns
                # (reference eland/operations.py:600-615)
                out[f.display_name] = pd.NaT if f.is_timestamp else np.nan
        s = pd.Series(out, name=agg)
        if agg in ("any", "all"):
            return s.astype("bool")
        if numeric_only is True:
            s = s.astype("float64")
        return s

    def count(self) -> pd.Series:
        """Per-column non-null counts in ONE job (the reference issues one
        _count request per field, eland/operations.py:148-174 — Spark
        collapses this into a single Aggregate)."""
        fields = list(self._schema.fields)
        row = self._agg_row([("count", f) for f in fields])
        return pd.Series(
            {f.display_name: row[f"count__{f.display_name}"] for f in fields},
            dtype="int64",
        )

    def _rowwise(self, agg: str):
        """axis=1 aggregates: one row-local expression over the numeric
        columns (array fold — no shuffle, no Python), returned as a
        derived Series named ``<agg>`` (pandas skipna=True)."""
        from .series import Series

        fields = [f for f in self._schema.fields if f.is_numeric]
        if not fields:
            raise ValueError("no numeric columns for axis=1 aggregation")
        cols = [F.col(f.column_name).cast("double") for f in fields]
        arr = F.array_compact(F.array(*cols))  # drop nulls: skipna
        n = F.size(arr)
        if agg == "sum":
            expr = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
        elif agg == "min":
            expr = F.when(n > 0, F.array_min(arr))
        elif agg == "max":
            expr = F.when(n > 0, F.array_max(arr))
        elif agg == "mean":
            expr = F.when(
                n > 0, F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / n
            )
        else:  # pragma: no cover
            raise ValueError(agg)
        return Series(self, expr, agg, T.DoubleType(), True)

    def sum(self, numeric_only=True, axis: int = 0):
        if axis in (1, "columns"):
            return self._rowwise("sum")
        return self._metric_agg("sum", numeric_only)

    def min(self, numeric_only=True, axis: int = 0):
        if axis in (1, "columns"):
            return self._rowwise("min")
        return self._metric_agg("min", numeric_only)

    def max(self, numeric_only=True, axis: int = 0):
        if axis in (1, "columns"):
            return self._rowwise("max")
        return self._metric_agg("max", numeric_only)

    def mean(self, numeric_only=True, axis: int = 0):
        if axis in (1, "columns"):
            return self._rowwise("mean")
        return self._metric_agg("mean", numeric_only)

    def std(self, numeric_only=True):
        return self._metric_agg("std", numeric_only)

    def var(self, numeric_only=True):
        return self._metric_agg("var", numeric_only)

    def sem(self, numeric_only=True):
        """Standard error of the mean (reference NotImplementedError,
        eland/operations.py:1144-1146 — native one-pass agg here)."""
        return self._metric_agg("sem", numeric_only)

    def skew(self, numeric_only=True):
        """Sample-adjusted Fisher-Pearson skewness per column (pandas G1;
        no reference analog — ES has no skewness agg). One hash-agg pass;
        Spark's population skewness() rescaled JVM-side."""
        return self._metric_agg("skew", numeric_only)

    def kurt(self, numeric_only=True):
        """Sample-adjusted excess kurtosis per column (pandas G2)."""
        return self._metric_agg("kurt", numeric_only)

    kurtosis = kurt

    def prod(self, numeric_only=True):
        """Per-column product (pandas parity; empty product is 1)."""
        return self._metric_agg("prod", numeric_only)

    product = prod

    def any(self, numeric_only=True):
        """Per-column truthiness OR, nulls skipped (pandas parity) —
        bool_or over ``col != 0``, one agg pass."""
        return self._metric_agg("any", numeric_only)

    def all(self, numeric_only=True):
        """Per-column truthiness AND, nulls skipped (pandas parity)."""
        return self._metric_agg("all", numeric_only)

    def median(self, numeric_only=True, approx=False):
        return self._metric_agg("median", numeric_only, approx)

    def nunique(self, approx=False) -> pd.Series:
        return self._metric_agg("nunique", None, approx)

    def mad(self, numeric_only=True) -> pd.Series:
        fields = [
            f
            for f in self._schema.numeric_fields(numeric_only, "mad")
            if f.is_numeric
        ]
        meds = self._agg_row([("median", f) for f in fields]) if fields else {}
        exprs = [
            F.percentile(
                F.abs(F.col(f.column_name) - F.lit(meds[f"median__{f.display_name}"])),
                F.lit(0.5),
            ).alias(f.display_name)
            for f in fields
            if meds[f"median__{f.display_name}"] is not None
        ]
        if not exprs:
            return pd.Series(dtype="float64")
        row = self._sdf.agg(*exprs).collect()[0]
        return pd.Series({f.display_name: row[f.display_name] for f in fields})

    def quantile(self, q=0.5, numeric_only=True, approx=False):
        qs = [q] if np.isscalar(q) else list(q)
        fields = [
            f
            for f in self._schema.numeric_fields(numeric_only, "quantile")
            if f.is_numeric
        ]
        # one array-percentile agg per field: a single value map per
        # column regardless of how many quantiles are requested
        qarr = array_lit([float(qq) for qq in qs], "double")
        exprs = [
            (
                F.percentile_approx(F.col(f.column_name), [float(qq) for qq in qs])
                if approx
                else F.percentile(F.col(f.column_name), qarr)
            ).alias(f.display_name)
            for f in fields
        ]
        row = self._sdf.agg(*exprs).collect()[0]
        if np.isscalar(q):
            return pd.Series(
                {f.display_name: row[f.display_name][0] for f in fields},
                name=float(q),
            )
        return pd.DataFrame(
            {f.display_name: list(row[f.display_name]) for f in fields},
            index=[float(qq) for qq in qs],
        )

    def aggregate(self, funcs, numeric_only=None) -> pd.DataFrame:
        """Multi-agg matrix: rows = agg funcs, cols = fields — one Spark
        job (reference piggybacks extended_stats,
        eland/operations.py:1150-1160; Catalyst computes all exprs in a
        single Aggregate pass natively)."""
        if isinstance(funcs, dict):
            # pandas dict form: {column: func | [funcs]}; rows = union
            # of requested funcs, NaN where a func wasn't asked of a
            # column — still one Aggregate pass
            spec = {
                c: ([v] if isinstance(v, str) else list(v))
                for c, v in funcs.items()
            }
            pairs = [
                (a, self._schema.field(c)) for c, fns in spec.items() for a in fns
            ]
            row = self._agg_row(pairs)
            index = list(dict.fromkeys(a for fns in spec.values() for a in fns))
            data = {}
            for c, fns in spec.items():
                f = self._schema.field(c)
                data[c] = [
                    self._restore(row[f"{a}__{c}"], f, a) if a in fns else np.nan
                    for a in index
                ]
            return pd.DataFrame(data, index=index)
        funcs = [funcs] if isinstance(funcs, str) else list(funcs)
        fields = self._schema.numeric_fields(
            True if numeric_only is True else None, funcs[0]
        )
        pairs = [
            (a, f) for a in funcs for f in fields if f.is_agg_compatible(a)
        ]
        row = self._agg_row(pairs)
        data = {}
        for f in fields:
            col = []
            for a in funcs:
                if f.is_agg_compatible(a):
                    col.append(self._restore(row[f"{a}__{f.display_name}"], f, a))
                else:
                    col.append(pd.NaT if f.is_timestamp else np.nan)
            data[f.display_name] = col
        return pd.DataFrame(data, index=funcs)

    agg = aggregate

    def describe(self, include=None) -> pd.DataFrame:
        """count/mean/std/min/25%/50%/75%/max (reference
        eland/operations.py:1189-1216) — one job.
        ``include='all'`` adds pandas' string-column stats
        (count/unique/top/freq) in one extra aggregation pass."""
        if include == "all":
            return self._describe_all()
        fields = [f for f in self._schema.fields if f.is_numeric]
        stats = ["count", "mean", "std", "min", "max"]
        pairs = [(a, f) for a in stats for f in fields]
        exprs = [
            self._agg_expr(a, f).alias(f"{a}__{f.display_name}") for a, f in pairs
        ]
        qarr = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        for f in fields:
            exprs.append(
                F.percentile(F.col(f.column_name), qarr).alias(f"q__{f.display_name}")
            )
        row = self._sdf.agg(*exprs).collect()[0]
        idx = ["count", "mean", "std", "min", "25%", "50%", "75%", "max"]
        data = {}
        for f in fields:
            quartiles = row[f"q__{f.display_name}"]
            data[f.display_name] = [
                row[f"count__{f.display_name}"],
                row[f"mean__{f.display_name}"],
                row[f"std__{f.display_name}"],
                row[f"min__{f.display_name}"],
                quartiles[0],
                quartiles[1],
                quartiles[2],
                row[f"max__{f.display_name}"],
            ]
        return pd.DataFrame(data, index=idx, dtype="float64")

    def _describe_all(self) -> pd.DataFrame:
        """pandas describe(include='all'): numeric stats + string
        count/unique/top/freq — the string pass is one aggregation
        (count, countDistinct, mode + its frequency via a conditional
        count piggybacked on the same job)."""
        num = self.describe()
        str_fields = [
            f
            for f in self._schema.fields
            if not f.is_numeric and not f.is_timestamp
        ]
        if not str_fields:
            return num
        exprs = []
        for f in str_fields:
            c = F.col(f.column_name)
            exprs.append(F.count(c).alias(f"count__{f.display_name}"))
            exprs.append(F.countDistinct(c).alias(f"unique__{f.display_name}"))
            exprs.append(F.mode(c).alias(f"top__{f.display_name}"))
        row = self._sdf.agg(*exprs).collect()[0]
        tops = {f.display_name: row[f"top__{f.display_name}"] for f in str_fields}
        freq_exprs = [
            F.count(
                F.when(F.col(f.column_name) == F.lit(tops[f.display_name]), 1)
            ).alias(f.display_name)
            for f in str_fields
            if tops[f.display_name] is not None
        ]
        freqs = self._sdf.agg(*freq_exprs).collect()[0] if freq_exprs else {}
        num_rows = [i for i in num.index if i != "count"]
        idx = ["count", "unique", "top", "freq"] + num_rows
        data: dict[str, list] = {}
        for f in str_fields:
            name = f.display_name
            data[name] = [
                row[f"count__{name}"],
                row[f"unique__{name}"],
                tops[name],
                freqs[name] if tops[name] is not None else np.nan,
            ] + [np.nan] * len(num_rows)
        for name in num.columns:
            data[name] = [num.loc["count", name], np.nan, np.nan, np.nan] + [
                num.loc[i, name] for i in num_rows
            ]
        ordered = [
            f.display_name
            for f in self._schema.fields
            if f.display_name in data
        ]
        return pd.DataFrame({c: data[c] for c in ordered}, index=idx)

    def rolling(self, window: int, min_periods: "int | None" = None):
        """pandas ``DataFrame.rolling(window)`` over the global index
        order: lazy proxy with ``sum/mean/min/max/count/std/var/agg`` applying
        to every numeric column in ONE pass — the same windowless
        bucket-overlap plan as ``Series.rolling``
        (operators/ranking.with_global_rolling), one balanced
        exchange for the whole column set, never one per column."""
        return _FrameRolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        """pandas ``DataFrame.expanding()`` over the global index
        order: lazy proxy with ``sum/mean/min/max/count/std/var/agg``
        applying to every numeric column in ONE pass —
        operators/ranking.with_global_expanding shares one
        bucket-prefix exchange (and one all-columns centers agg for
        std/var's mean-shifted moments) across the whole column set,
        never one plan per column."""
        return _FrameExpanding(self, min_periods)

    def ewm(
        self,
        alpha: "float | None" = None,
        span: "float | None" = None,
        halflife: "float | None" = None,
        com: "float | None" = None,
        min_periods: int = 0,
    ):
        """pandas ``DataFrame.ewm(...)`` over the global index order:
        lazy proxy with ``.mean()`` applying to every numeric column in
        ONE bucket-overlap pass — the truncated-kernel global ewm
        kernel ``Series.ewm`` shares (operators/windowed.ewm_global,
        same engine choice), the single balanced exchange shared by the
        whole column set."""
        return _FrameEwm(self, alpha, span, halflife, com, min_periods)

    def corrwith(self, other: "DataFrame", numeric_only: bool = True) -> pd.Series:
        """Pearson correlation of each shared numeric column between
        two index-aligned frames (pandas ``DataFrame.corrwith``,
        axis=0). One null-safe index equi-join + ONE aggregation pass
        (every F.corr is a map-side-combinable streaming agg) — a
        single scan of each side at any scale; the result is
        column-count sized."""
        if self._schema.index_cols != other._schema.index_cols or not self._schema.index_cols:
            raise ValueError(
                "corrwith needs both frames indexed on the same columns"
            )
        mine = {f.display_name: f for f in self._schema.fields if f.is_numeric}
        theirs = {f.display_name: f for f in other._schema.fields if f.is_numeric}
        idx = list(self._schema.index_cols)
        shared = [c for c in mine if c in theirs and c not in idx]
        if not shared:
            return pd.Series(dtype="float64")
        l = self._sdf.select(
            *[F.col(self._schema.resolve(c)).alias(f"__i{j}__")
              for j, c in enumerate(idx)],
            *[F.col(mine[c].column_name).cast("double").alias(f"__l_{c}__")
              for c in shared],
        )
        r = other._sdf.select(
            *[F.col(other._schema.resolve(c)).alias(f"__i{j}__")
              for j, c in enumerate(idx)],
            *[F.col(theirs[c].column_name).cast("double").alias(f"__r_{c}__")
              for c in shared],
        )
        cond = [l[f"__i{j}__"].eqNullSafe(r[f"__i{j}__"]) for j in range(len(idx))]
        joined = l.join(r, cond, "inner")
        row = joined.agg(
            *[F.corr(F.col(f"__l_{c}__"), F.col(f"__r_{c}__")).alias(c)
              for c in shared]
        ).collect()[0]
        return pd.Series(
            {c: (float("nan") if row[c] is None else row[c]) for c in shared}
        )

    def copy(self, deep: bool = True) -> "DataFrame":
        """Frames are immutable lazy plans; copy returns a new façade
        over the same plan (pandas-API convenience)."""
        return self._with(sdf=self._sdf)

    def update(self, other: "DataFrame", overwrite: bool = True) -> "DataFrame":
        """pandas ``DataFrame.update``, immutably: align ``other`` on
        the (shared) index, and for every shared non-index column take
        other's NON-NULL values (``overwrite=True``) or only fill
        self's nulls (``overwrite=False``). Always a LEFT alignment —
        every self row survives, other-only rows are ignored. One
        null-safe index equi-join, no other shuffle; pandas raises on
        duplicate other-side keys, here they fan out (documented
        divergence of the lazy plan) — dedup upstream if unsure."""
        if self._schema.index_cols != other._schema.index_cols or not self._schema.index_cols:
            raise ValueError("update needs both frames indexed on the same columns")
        idx = list(self._schema.index_cols)
        mine = {f.display_name: f for f in self._schema.fields}
        theirs = {f.display_name: f for f in other._schema.fields}
        shared = [c for c in mine if c in theirs and c not in idx]
        if not shared:
            return self.copy()
        r = other._sdf.select(
            *[F.col(other._schema.resolve(c)).alias(f"__ui{j}__")
              for j, c in enumerate(idx)],
            *[F.col(theirs[c].column_name).alias(f"__u_{c}__") for c in shared],
        )
        l = self._sdf
        cond = None
        for j, c in enumerate(idx):
            e = F.col(self._schema.resolve(c)).eqNullSafe(F.col(f"__ui{j}__"))
            cond = e if cond is None else (cond & e)
        joined = l.join(r, cond, "left")
        cols = []
        for f in self._schema.fields:
            c = f.display_name
            if c in shared:
                ours, new = F.col(f.column_name), F.col(f"__u_{c}__")
                merged = (F.coalesce(new, ours) if overwrite
                          else F.coalesce(ours, new))
                cols.append(merged.cast(f.spark_type).alias(f.column_name))
            else:
                cols.append(F.col(f.column_name))
        return self._with(sdf=joined.select(*cols))

    def _scalar_compare(self, other, op: str) -> "DataFrame":
        import numbers

        if other is None:
            raise TypeError(f"cannot compare with None via {op}")
        is_num = isinstance(other, numbers.Number) and not isinstance(other, bool)
        cols = []
        for f in self._schema.fields:
            if f.display_name in self._schema.index_cols:
                cols.append(F.col(f.column_name).alias(f.display_name))
                continue
            comparable = f.is_numeric if is_num else (
                isinstance(f.spark_type, T.StringType)
                if isinstance(other, str) else True
            )
            c = F.col(f.column_name)
            if op in ("eq", "ne"):
                if not comparable:
                    base = F.lit(op == "ne")
                else:
                    cmp = c == F.lit(other)
                    # pandas: NaN eq anything -> False, NaN ne -> True
                    base = F.coalesce(
                        cmp if op == "eq" else ~cmp, F.lit(op == "ne")
                    )
            else:
                if not comparable:
                    raise TypeError(
                        f"{op} not supported between {f.display_name!r} "
                        f"({f.spark_type}) and {type(other).__name__}"
                    )
                cmp = {
                    "lt": c < F.lit(other), "le": c <= F.lit(other),
                    "gt": c > F.lit(other), "ge": c >= F.lit(other),
                }[op]
                base = F.coalesce(cmp, F.lit(False))
            cols.append(base.alias(f.display_name))
        sdf = self._sdf.select(*cols)
        return DataFrame(sdf, index_cols=self._schema.index_cols)

    def eq(self, other) -> "DataFrame":
        """Elementwise ``== scalar`` over every column (pandas
        ``DataFrame.eq``): nulls compare False, incomparable dtypes
        are all-False — a zero-shuffle projection."""
        return self._scalar_compare(other, "eq")

    def ne(self, other) -> "DataFrame":
        """Elementwise ``!= scalar``; nulls compare True (pandas)."""
        return self._scalar_compare(other, "ne")

    def lt(self, other) -> "DataFrame":
        return self._scalar_compare(other, "lt")

    def le(self, other) -> "DataFrame":
        return self._scalar_compare(other, "le")

    def gt(self, other) -> "DataFrame":
        return self._scalar_compare(other, "gt")

    def ge(self, other) -> "DataFrame":
        return self._scalar_compare(other, "ge")

    def first_valid_index(self):
        """Index of the first row (in index order) with ANY non-null
        value column — two scalar aggregates, no sort (min over the
        index struct)."""
        return self._valid_index_edge(F.min)

    def last_valid_index(self):
        return self._valid_index_edge(F.max)

    def _valid_index_edge(self, agg_fn):
        idx = list(self._schema.index_cols)
        if not idx:
            raise ValueError("first/last_valid_index needs an index")
        vals = [
            F.col(f.column_name)
            for f in self._schema.fields
            if f.display_name not in idx
        ]
        if not vals:
            return None
        cond = None
        for v in vals:
            cond = v.isNotNull() if cond is None else (cond | v.isNotNull())
        filtered = self._sdf.where(cond)
        key = F.struct(*[F.col(self._schema.resolve(c)) for c in idx])
        row = filtered.agg(agg_fn(key).alias("k")).collect()[0]["k"]
        if row is None:
            return None
        vals_out = tuple(row)
        return vals_out[0] if len(vals_out) == 1 else vals_out

    def corr(self, numeric_only: bool = True) -> pd.DataFrame:
        """Pairwise Pearson correlation matrix of numeric columns (no
        reference analog — pandas DataFrame.corr surface). All p*(p-1)/2
        coefficients compute in ONE aggregation pass (each F.corr is a
        map-side-combinable streaming agg; one job, one tiny result row
        — the 100 TB plan is a single scan)."""
        fields = [f for f in self._schema.fields if f.is_numeric]
        names = [f.display_name for f in fields]
        exprs = []
        for i, fa in enumerate(fields):
            for fb in fields[i + 1 :]:
                exprs.append(
                    F.corr(
                        F.col(fa.column_name).cast("double"),
                        F.col(fb.column_name).cast("double"),
                    ).alias(f"{fa.display_name}__{fb.display_name}")
                )
        row = self._sdf.agg(*exprs).collect()[0] if exprs else {}
        import numpy as np

        mat = pd.DataFrame(np.eye(len(names)), index=names, columns=names)
        for i, a in enumerate(names):
            for b in names[i + 1 :]:
                v = row[f"{a}__{b}"]
                v = float("nan") if v is None else v
                mat.loc[a, b] = mat.loc[b, a] = v
        return mat

    def cov(self, numeric_only: bool = True) -> pd.DataFrame:
        """Pairwise sample covariance matrix (pandas DataFrame.cov);
        same one-pass plan as ``corr`` with ``covar_samp`` aggs plus
        the diagonal variances."""
        fields = [f for f in self._schema.fields if f.is_numeric]
        names = [f.display_name for f in fields]
        exprs = [
            F.var_samp(F.col(f.column_name).cast("double")).alias(f"v__{f.display_name}")
            for f in fields
        ]
        for i, fa in enumerate(fields):
            for fb in fields[i + 1 :]:
                exprs.append(
                    F.covar_samp(
                        F.col(fa.column_name).cast("double"),
                        F.col(fb.column_name).cast("double"),
                    ).alias(f"{fa.display_name}__{fb.display_name}")
                )
        row = self._sdf.agg(*exprs).collect()[0]
        import numpy as np

        mat = pd.DataFrame(
            np.zeros((len(names), len(names))), index=names, columns=names
        )
        for i, a in enumerate(names):
            v = row[f"v__{a}"]
            mat.loc[a, a] = float("nan") if v is None else v
            for b in names[i + 1 :]:
                v = row[f"{a}__{b}"]
                v = float("nan") if v is None else v
                mat.loc[a, b] = mat.loc[b, a] = v
        return mat

    def crosstab(
        self,
        index: str,
        columns: str,
        margins: bool = False,
        margins_name: str = "All",
        normalize=False,
    ) -> pd.DataFrame:
        """Frequency table of two columns (pandas ``pd.crosstab``):
        count pivot — one shuffle, explicit pivot values resolved
        first like pivot_table. ``margins``/``normalize`` follow
        pandas exactly (pinned differentially): margins under
        ``normalize='index'`` add only the All ROW, under
        ``'columns'`` only the All COLUMN, under ``True``/``'all'``
        both; the arithmetic runs driver-side on the already-collected
        contingency matrix (k x k, never row data)."""
        if normalize not in (False, True, "all", "index", "columns"):
            raise ValueError(f"invalid normalize {normalize!r}")
        schema = self._schema
        ic, cc = schema.resolve(index), schema.resolve(columns)
        # limit BEFORE collect: the guard must not itself pull an
        # unbounded distinct set onto the driver
        rows = (
            self._sdf.select(cc).distinct().orderBy(cc).limit(10001).collect()
        )
        if len(rows) > 10000:
            raise ValueError(
                f"crosstab column {columns!r} has > 10000 distinct values"
            )
        vals = [r[0] for r in rows if r[0] is not None]
        pdf = (
            self._sdf.groupBy(F.col(ic).alias(index))
            .pivot(cc, vals)
            .agg(F.count(F.lit(1)))
            .toPandas()
            .set_index(index)
            .sort_index()
        )
        counts = pdf.fillna(0).astype("int64")
        if normalize is False and not margins:
            return counts
        total = counts.to_numpy().sum()
        if normalize is False:
            out = counts.copy()
            out[margins_name] = out.sum(axis=1)
            out.loc[margins_name] = out.sum(axis=0)
            return out
        if normalize in (True, "all"):
            out = counts / total
            if margins:
                out[margins_name] = out.sum(axis=1)
                out.loc[margins_name] = out.sum(axis=0)
                # the corner is the grand total of normalized cells
                out.loc[margins_name, margins_name] = out.iloc[:-1, :-1].to_numpy().sum()
            return out
        if normalize == "index":
            out = counts.div(counts.sum(axis=1), axis=0)
            if margins:  # only the All ROW (pandas drops the column)
                out.loc[margins_name] = counts.sum(axis=0) / total
            return out
        out = counts.div(counts.sum(axis=0), axis=1)
        if margins:  # only the All COLUMN
            out[margins_name] = counts.sum(axis=1) / total
        return out

    def pivot(self, index: str, columns: str, values: str) -> pd.DataFrame:
        """pandas ``DataFrame.pivot``: reshape without aggregation.
        Like pandas it RAISES when any (index, columns) pair occurs more
        than once — checked with one extra server-side aggregate (max
        group count) before delegating to the single-shuffle
        ``pivot_table(aggfunc='first')`` plan."""
        schema = self._schema
        dup = (
            self._sdf.groupBy(schema.resolve(index), schema.resolve(columns))
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        if dup is not None and dup > 1:
            raise ValueError(
                "Index contains duplicate entries, cannot reshape"
            )
        return self.pivot_table(index, columns, values, aggfunc="first")

    def pivot_table(
        self,
        index: str,
        columns: str,
        values: str,
        aggfunc: str = "mean",
        margins: bool = False,
        margins_name: str = "All",
    ) -> pd.DataFrame:
        """Wide pivot (no reference analog — pandas pivot_table surface):
        ``groupBy(index).pivot(columns).agg(...)``. The pivot values are
        discovered with an explicit distinct pass and passed to Spark's
        pivot so the agg stays a SINGLE shuffle with a fixed output
        schema (open-ended pivot would scan once extra anyway — here the
        distinct doubles as a cardinality guard). ``margins=True`` adds
        the pandas All row/column — a second cube-style aggregation pass,
        still server-side."""
        schema = self._schema
        idx_c = schema.resolve(index)
        col_c = schema.resolve(columns)
        val_f = schema.field(values)
        rows = (
            self._sdf.select(col_c).distinct().orderBy(col_c).limit(10001).collect()
        )
        if len(rows) > 10000:
            raise ValueError(f"pivot column {columns!r} has > 10000 distinct values")
        cats = [r[0] for r in rows]
        agg = self._agg_expr(aggfunc, val_f)
        out = (
            self._sdf.groupBy(F.col(idx_c).alias(index))
            .pivot(col_c, cats)
            .agg(agg)
            .toPandas()
        )
        out = out.set_index(index).sort_index()
        if margins:
            col_tot = {
                r[col_c]: r["v"]
                for r in self._sdf.groupBy(col_c).agg(agg.alias("v")).collect()
            }
            row_tot = {
                r[idx_c]: r["v"]
                for r in self._sdf.groupBy(idx_c).agg(agg.alias("v")).collect()
            }
            grand = self._sdf.agg(agg.alias("v")).collect()[0]["v"]
            out[margins_name] = out.index.map(row_tot)
            # Spark's pivot stringifies non-string category values in the
            # output column names, so key the All-row lookup by the native
            # `cats` list (same order as the pivot columns), not by name.
            all_row = [col_tot.get(c) for c in cats] + [grand]
            out.loc[margins_name] = all_row
        return out

    def mode(self, numeric_only: bool = False, es_size: int = 10) -> pd.DataFrame:
        """Per-column top-N by frequency; ties all kept, shorter columns
        padded NaN/NaT (reference eland/operations.py:665-696)."""
        fields = self._schema.numeric_fields(True if numeric_only else False, "mode")
        cols = {}
        for f in fields:
            s = Series(self, F.col(f.column_name), f.display_name, f.spark_type)
            vals = list(s.mode()[:es_size])
            cols[f.display_name] = vals
        n = max((len(v) for v in cols.values()), default=0)
        for f in fields:
            pad = pd.NaT if f.is_timestamp else np.nan
            cols[f.display_name] += [pad] * (n - len(cols[f.display_name]))
        return pd.DataFrame(cols)

    def idxmax(self) -> pd.Series:
        return self._idx_extreme(True)

    def idxmin(self) -> pd.Series:
        return self._idx_extreme(False)

    def _idx_extreme(self, is_max: bool) -> pd.Series:
        """Index value of the row holding each numeric column's extreme —
        ``min_by`` over a (value-ordering, id) struct replaces the
        reference's per-field top_hits agg (eland/operations.py:207-254).
        Ties break to the LOWEST index (pandas first-occurrence
        semantics; a bare max_by picks an arbitrary tied row): minimizing
        the lexicographic struct(-value | value, id) finds the extreme
        value first, smallest id second. Null values are excluded like
        pandas skipna."""
        if not self._schema.index_cols:
            raise ValueError("idxmax/idxmin require an index column")
        key = self._schema.index_cols[0]
        fields = [f for f in self._schema.fields if f.is_numeric]
        exprs = []
        for f in fields:
            v = F.col(f.column_name).cast("double")
            ordering = (-v) if is_max else v
            pair = F.when(v.isNotNull(), F.struct(ordering.alias("o"), F.col(key).alias("i")))
            exprs.append(F.min_by(F.col(key), pair).alias(f.display_name))
        row = self._sdf.agg(*exprs).collect()[0]
        return pd.Series({f.display_name: row[f.display_name] for f in fields})

    def hist(self, column: str, bins: int = 10):
        from .operators.histogram import histogram

        return histogram(self, column, bins)

    # ------------------------------------------------------------------
    # groupby / joins / set ops
    # ------------------------------------------------------------------
    def groupby(self, by, dropna: bool = True):
        """Group by column names and/or derived Series keys (the
        pandas ``df.groupby(df.col.dt.year)`` idiom): Series keys are
        materialized as derived columns under their Series name, so
        the whole thing stays one hash aggregation."""
        from .groupby import DataFrameGroupBy

        by = [by] if isinstance(by, (str, Series)) else list(by)
        frame = self
        names: list[str] = []
        for b in by:
            if isinstance(b, Series):
                if b._frame._sdf is not self._sdf:
                    raise ValueError(
                        "groupby Series key must derive from this frame"
                    )
                frame = frame.assign(**{b.name: b})
                names.append(b.name)
            else:
                names.append(b)
        missing = [b for b in names if b not in frame._schema]
        if missing:
            raise KeyError(f"groupby columns not found: {missing}")
        return DataFrameGroupBy(frame, names, dropna=dropna)

    def merge(
        self,
        right: "DataFrame",
        how: str = "inner",
        on=None,
        left_on=None,
        right_on=None,
        broadcast: bool = False,
        indicator: bool | str = False,
        validate: str | None = None,
    ) -> "DataFrame":
        """Relational join — absent in the reference (single-index data
        model, SURVEY §2.4); native here. ``broadcast=True`` hints the
        small side for a map-side join (no shuffle at 100 TB).
        ``indicator`` adds pandas' ``_merge`` column
        (left_only/right_only/both) from per-side presence flags.
        ``validate`` ('1:1'/'1:m'/'m:1'/'m:m') asserts key uniqueness
        on the constrained side(s) before joining, like pandas — one
        eager count-vs-distinct aggregate per checked side (a fan-out
        caught up front costs two scalar jobs; undetected it corrupts
        every downstream row count).

        Key matching is NULL-SAFE, like pandas: NaN keys join to NaN
        keys (pandas merges NaN with NaN; a bare Spark join silently
        drops every null-keyed match). EqualNullSafe is still an
        equi-join predicate to Catalyst, so the plan stays a
        hash/sort-merge join — pandas semantics at zero scale cost."""
        if validate is not None:
            norm = {"one_to_one": "1:1", "one_to_many": "1:m",
                    "many_to_one": "m:1", "many_to_many": "m:m"}
            v = norm.get(validate, validate)
            if v not in ("1:1", "1:m", "m:1", "m:m"):
                raise ValueError(f"invalid validate {validate!r}")
            lk = ([on] if isinstance(on, str) else list(on)) if on is not None \
                else ([left_on] if isinstance(left_on, str) else list(left_on))
            rk = ([on] if isinstance(on, str) else list(on)) if on is not None \
                else ([right_on] if isinstance(right_on, str) else list(right_on))

            def _unique(frame, keys, side):
                sdf = frame._projected()
                # null keys form their own group, so duplicate-null rows
                # count as duplicates exactly like pandas
                top = (
                    sdf.groupBy(*[F.col(k) for k in keys])
                    .count().agg(F.max("count")).collect()[0][0]
                )
                if top is not None and top > 1:
                    raise ValueError(
                        f"Merge keys are not unique in the {side} "
                        f"dataset; validate={v!r} failed"
                    )

            if v in ("1:1", "1:m"):
                _unique(self, lk, "left")
            if v in ("1:1", "m:1"):
                _unique(right, rk, "right")
        lsdf = self._projected()
        rsdf = right._projected()
        ind_col = "_merge" if indicator is True else indicator
        if indicator:
            lsdf = lsdf.withColumn("__l__", F.lit(1))
            rsdf = rsdf.withColumn("__r__", F.lit(1))
        if on is not None:
            on_cols = [on] if isinstance(on, str) else list(on)
            # rename right's key columns so the null-safe condition is
            # unambiguous, then fold back to ONE key column (left value,
            # right's for right-only rows) like Spark's name-join and
            # pandas both do
            tmpmap = {c: f"__r_{c}__" for c in on_cols}
            for c, t in tmpmap.items():
                rsdf = rsdf.withColumnRenamed(c, t)
            if broadcast:
                rsdf = F.broadcast(rsdf)
            cond = [lsdf[c].eqNullSafe(rsdf[t]) for c, t in tmpmap.items()]
            joined = lsdf.join(rsdf, on=cond, how=how)
            if how not in ("semi", "left_semi", "leftsemi", "anti", "left_anti", "leftanti"):
                for c, t in tmpmap.items():
                    joined = joined.withColumn(
                        c, F.coalesce(F.col(c), F.col(t))
                    ).drop(t)
        else:
            if broadcast:
                rsdf = F.broadcast(rsdf)
            lo = [left_on] if isinstance(left_on, str) else list(left_on)
            ro = [right_on] if isinstance(right_on, str) else list(right_on)
            cond = [lsdf[a].eqNullSafe(rsdf[b]) for a, b in zip(lo, ro)]
            joined = lsdf.join(rsdf, on=cond, how=how)
        if indicator:
            joined = joined.withColumn(
                ind_col,
                F.when(
                    F.col("__l__").isNotNull() & F.col("__r__").isNotNull(),
                    F.lit("both"),
                )
                .when(F.col("__l__").isNotNull(), F.lit("left_only"))
                .otherwise(F.lit("right_only")),
            ).drop("__l__", "__r__")
        idx = tuple(c for c in self._schema.index_cols if c in joined.columns)
        return DataFrame(joined, index_cols=idx)

    def join(self, right: "DataFrame", on=None, how: str = "inner", **kw) -> "DataFrame":
        return self.merge(right, how=how, on=on, **kw)

    def union(self, other: "DataFrame") -> "DataFrame":
        return DataFrame(
            self._projected().unionByName(other._projected()),
            index_cols=self._schema.index_cols,
        )

    concat = union

    def intersect(self, other: "DataFrame") -> "DataFrame":
        return DataFrame(
            self._projected().intersect(other._projected()),
            index_cols=self._schema.index_cols,
        )

    def except_(self, other: "DataFrame") -> "DataFrame":
        return DataFrame(
            self._projected().exceptAll(other._projected()),
            index_cols=self._schema.index_cols,
        )

    # ------------------------------------------------------------------
    # materialization / sinks (reference eland/operations.py:1218-1337)
    # ------------------------------------------------------------------
    def to_spark(self) -> SparkDataFrame:
        """The projected Spark plan (escape hatch + driver contract)."""
        return self._projected()

    def to_view(self, name: str) -> "DataFrame":
        """Register the frame (display-name columns) as a temp view so
        plain ``spark.sql`` can query it — the engine composes with
        Spark SQL instead of replacing it."""
        self._projected().createOrReplaceTempView(name)
        return self

    def map_in_pandas(self, fn, schema) -> "DataFrame":
        """Batch-iterator Python escape hatch: ``fn(iter[pd.DataFrame])
        -> iter[pd.DataFrame]`` over Arrow batches (``mapInPandas``) —
        the shape for per-batch model inference / multimodal decode
        (SURVEY §2.12-2.13). Partitioning is preserved; rows may be
        added/dropped. Index columns surviving into the output schema
        stay the frame's index."""
        out = self._projected().mapInPandas(fn, schema)
        kept = tuple(c for c in self._schema.index_cols if c in out.columns)
        return DataFrame(out, index_cols=kept)

    def apply(self, fn, axis: int = 1, dtype: str | T.DataType = "double",
              name: str = "apply"):
        """pandas ``DataFrame.apply`` for ``axis=1`` (row-wise): ``fn``
        receives each row as a pd.Series and returns a scalar.
        Evaluated per Arrow batch via ``pd.DataFrame.apply`` inside
        ``mapInPandas`` — vectorized transfer, Python per row within
        the batch, never a row-at-a-time UDF over the wire (the same
        Arrow-only contract as ``Series.apply``). Returns the result
        Series (column ``name``, Spark type ``dtype``) keyed by the
        frame's index. ``axis=0`` (per-column reduction) is ``.agg``'s
        job and raises here."""
        if axis not in (1, "columns"):
            raise NotImplementedError(
                "DataFrame.apply(axis=0) is a per-column reduction — "
                "use .agg(...) / .aggregate(...)"
            )
        rt = dtype if isinstance(dtype, T.DataType) else T._parse_datatype_string(dtype)
        idx = list(self._schema.index_cols)
        data_cols = [n for n in self._schema.display_names if n not in idx]
        out_schema = T.StructType(
            [T.StructField(c, self._sdf.schema[self._schema.resolve_any(c)].dataType)
             for c in idx]
            + [T.StructField(name, rt)]
        )

        def _batches(it):
            for pdf in it:
                res = pdf[data_cols].apply(fn, axis=1)
                out = pdf[idx].copy()
                out[name] = res
                yield out

        # fn runs interpreted-Python per row: make sure the stage is as
        # wide as the cluster before paying that cost (no-op when the
        # scan already parallelizes — operators/parallelism.py)
        from .operators.parallelism import spread_for_compute

        src = spread_for_compute(self._projected(), *idx)
        out = src.mapInPandas(_batches, out_schema)
        frame = DataFrame(out, index_cols=tuple(idx))
        return frame[name]

    def applymap(self, fn, dtype: str | T.DataType | None = None) -> "DataFrame":
        """pandas ``DataFrame.applymap`` (pandas 2.1+: ``DataFrame.map``):
        ``fn`` elementwise over every column, evaluated per Arrow batch
        through ``pd.Series.apply`` inside one pandas_udf per column —
        a single shuffle-free projection, never row-at-a-time transfer.
        ``dtype`` overrides the output Spark type for ALL columns;
        default keeps each column's existing type (pandas infers per
        column; a Spark schema must be declared up front)."""
        cols = []
        for f_ in self._schema.fields:
            rt = f_.spark_type if dtype is None else (
                dtype if isinstance(dtype, T.DataType)
                else T._parse_datatype_string(dtype)
            )
            udf = F.pandas_udf(
                lambda s, _fn=fn: s.apply(_fn), returnType=rt
            )
            cols.append(udf(F.col(f_.column_name)).alias(f_.display_name))
        idx = [
            F.col(c) for c in self._schema.index_cols
            if c not in self._schema.display_names
        ]
        out = self._sdf.select(*idx, *cols)
        return DataFrame(out, index_cols=self._schema.index_cols)

    # pandas 2.1 renamed applymap -> map
    map = applymap

    def to_pandas(self, show_progress: bool = False, set_index: bool = False) -> pd.DataFrame:
        names = self._projected_names()
        icols = [c for c in self._schema.index_cols if c in names]
        by_name = {f.column_name: f.display_name for f in self._schema.fields}
        user = [
            (by_name.get(c, c), a, nl)
            for c, a, nl in (self._order or ())
            if by_name.get(c, c) in names
        ]
        shown = {f.display_name: f.column_name for f in self._schema.fields}
        # The driver sorts below whenever the whole index and every sort
        # key come back, so a Spark global sort under it (a range-
        # partition sampling job plus a shuffle) would sort the rows a
        # second time — the reference sorts client-side too
        # (SortIndexAction, eland/actions.py:52-91). A hidden sort key
        # or no index keeps the Spark order.
        resort = (
            bool(self._schema.index_cols)
            and all(shown.get(c, c) == c for c in self._schema.index_cols)
            and len(user) == len(self._order or ())
        )
        sdf = self._projected(None if resort else self._ordered_sdf())
        pdf = sdf.toPandas()
        if resort and user:
            # index first: the stable key sort below keeps it as the
            # tiebreak, like the Spark order's index suffix
            pdf = pdf.sort_values(icols, kind="mergesort")
        if user and len(user) == len(self._order):
            # explicit sort_values ordering: present it (pandas
            # semantics), stable with nulls where the sort put them
            pdf = pdf.sort_values(
                [c for c, _, _ in user],
                ascending=[a for _, a, _ in user],
                na_position="last" if user[0][2] else "first",
                kind="mergesort",
            ).reset_index(drop=True)
            if set_index and icols:
                pdf = pdf.set_index(icols[0] if len(icols) == 1 else icols)
        elif icols:
            # index order restored ascending on the way out (reference
            # SortIndexAction after tail, eland/actions.py:52-91)
            pdf = pdf.sort_values(icols, kind="mergesort").reset_index(drop=True)
            if set_index:
                pdf = pdf.set_index(icols[0] if len(icols) == 1 else icols)
        return pdf

    def iterrows(self, batch_size: int = 5000):
        """Chunk-streamed row iteration (reference PIT scan,
        eland/dataframe.py:1501-1548) via toLocalIterator — only one
        partition is resident on the driver at a time."""
        for row in self._projected(self._ordered_sdf()).toLocalIterator():
            d = row.asDict()
            idx = (
                d.get(self._schema.index_cols[0])
                if self._schema.index_cols
                else None
            )
            yield idx, pd.Series(d)

    def itertuples(self, name: str = "Eland"):
        from collections import namedtuple

        cols = list(self._projected().columns)
        Tup = namedtuple(name, ["Index"] + [c for c in cols if c not in self._schema.index_cols], rename=True)
        for idx, row in self.iterrows():
            yield Tup(idx, *[row[c] for c in cols if c not in self._schema.index_cols])

    def to_csv(
        self,
        path: str,
        mode: str = "overwrite",
        header: bool = True,
        single_file: bool = False,
        batch_size: int = 5000,
    ) -> None:
        """Distributed CSV write; ``single_file=True`` reproduces the
        reference's contract exactly — chunks streamed to ONE local file,
        header once, append after the first batch
        (eland/operations.py:1218-1246) — with only one partition
        resident on the driver at a time."""
        if not single_file:
            self._projected().write.mode(mode).option("header", header).csv(path)
            return
        import csv as _csv
        import os as _os

        exists = _os.path.exists(path)
        if exists and mode in ("error", "errorifexists"):
            raise FileExistsError(f"{path!r} already exists (mode={mode!r})")
        appending = exists and mode == "append"
        sdf = self._projected(self._ordered_sdf())
        cols = sdf.columns
        with open(path, "a" if appending else "w", newline="") as fh:
            w = _csv.writer(fh)
            if header and not appending:
                w.writerow(cols)
            batch = []
            for row in sdf.toLocalIterator():
                batch.append([row[c] for c in cols])
                if len(batch) >= batch_size:
                    w.writerows(batch)
                    batch = []
            if batch:
                w.writerows(batch)

    def to_json(self, path: str, mode: str = "overwrite") -> None:
        self._projected().write.mode(mode).json(path)

    def to_parquet(self, path: str, mode: str = "overwrite", partition_by=None) -> None:
        w = self._projected().write.mode(mode)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)

    def to_orc(self, path: str, mode: str = "overwrite", partition_by=None) -> None:
        w = self._projected().write.mode(mode)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.orc(path)

    def es_info(self) -> str:
        """Explain analog (reference eland/operations.py:1500-1518):
        schema + physical plan."""
        buf = [f"index_cols: {list(self._schema.index_cols)}", "schema:"]
        for f in self._schema.fields:
            buf.append(
                f"  {f.display_name} <- {f.column_name} "
                f"({f.spark_type.simpleString()}, pd={f.pd_dtype}, derived={f.is_derived})"
            )
        return "\n".join(buf)

    def explain(self, mode: str = "formatted") -> None:
        self._projected().explain(mode)

    def lint(self) -> "list[dict]":
        """Static scale-hazard scan of this frame's physical plan
        (plans.lint_plan): flags cartesian products, single-partition
        exchanges, row-at-a-time Python UDFs, un-pushed filters.
        Empty list = clean bill; run it on any pipeline before
        pointing it at the full corpus."""
        from .plans import lint_plan

        return lint_plan(self._projected())

    # -- reference-parity accessors & repr helpers ---------------------
    @property
    def index(self):
        """Index abstraction over the frame's identity columns
        (reference eland/index.py:24-92)."""
        from .index import Index

        return Index(self)

    @property
    def es_dtypes(self) -> pd.Series:
        """Engine-side (Spark SQL) type per column — the reference
        returns raw ES mapping types (eland/ndframe.py:141)."""
        return pd.Series(
            {f.display_name: f.spark_type.simpleString() for f in self._schema.fields}
        )

    def get(self, key, default=None):
        """Dict-style column access (reference eland/dataframe.py:2038)."""
        try:
            return self[key]
        except KeyError:
            return default

    def info(self, buf=None, show_counts: bool | None = None) -> None:
        """Concise summary: index, columns, non-null counts, dtypes
        (reference eland/dataframe.py:808-992). One count job."""
        import sys

        out = buf or sys.stdout
        lines = [str(type(self)), f"Index: {list(self._schema.index_cols)}"]
        ncols = len(self._schema.display_names)
        lines.append(f"Data columns (total {ncols} columns):")
        counts = self.count() if show_counts in (None, True) else None
        lines.append(f" #   {'Column':24s} {'Non-Null Count':16s} Dtype")
        lines.append(f"---  {'-'*24} {'-'*16} -----")
        for i, f in enumerate(self._schema.fields):
            cnt = (
                f"{counts[f.display_name]} non-null" if counts is not None else ""
            )
            lines.append(f" {i:<3d} {f.display_name:24s} {cnt:16s} {f.pd_dtype}")
        from collections import Counter

        by_dtype = Counter(f.pd_dtype for f in self._schema.fields)
        lines.append(
            "dtypes: " + ", ".join(f"{k}({v})" for k, v in sorted(by_dtype.items()))
        )
        print("\n".join(lines), file=out)

    def to_string(self, max_rows: int = 60) -> str:
        """Peek rendering (reference caps at DEFAULT_NUM_ROWS_DISPLAYED
        = 60, eland/common.py:38 — never a full materialization)."""
        n = self.shape[0]
        pdf = self.head(max_rows).to_pandas()
        s = pdf.to_string()
        if n > max_rows:
            s += f"\n\n[{n} rows x {len(pdf.columns)} columns]"
        return s

    def to_html(self, max_rows: int = 60) -> str:
        n = self.shape[0]
        pdf = self.head(max_rows).to_pandas()
        s = pdf.to_html()
        if n > max_rows:
            s += f"\n<p>{n} rows &times; {len(pdf.columns)} columns</p>"
        return s

    @property
    def values(self) -> None:
        """Not implemented, matching the reference's refusal
        (eland/dataframe.py:2154-2213): this would materialize the whole
        distributed table on the driver. Call ``.to_pandas().values``
        explicitly if that is really wanted."""
        raise AttributeError(
            "This method would materialize the entire distributed table in "
            "driver memory. If explicitly required, call `.to_pandas().values`."
        )

    def to_numpy(self) -> None:
        """Not implemented (same contract as ``values``;
        reference eland/dataframe.py:2172-2213)."""
        raise AttributeError(
            "This method would materialize the entire distributed table in "
            "driver memory. If explicitly required, call "
            "`.to_pandas().to_numpy()`."
        )


def concat(
    frames: list["DataFrame"], axis: int = 0, join: str = "outer"
) -> "DataFrame":
    """pandas ``pd.concat`` for row-wise stacking (``axis=0``): frames
    union BY COLUMN NAME, columns missing from a frame fill with null
    (pandas outer-join semantics). The union is a zero-cost plan node —
    each source keeps its own scan and pushdown, so concatenating N
    corpora adds no shuffle at any scale. The result keeps the first
    frame's index columns when every frame shares them (ordering/
    identity survive), else no index. ``join`` is only honored for
    ``axis=1`` (axis=0 always aligns columns outer, like the row path
    always has).

    ``axis=1`` aligns frames on their INDEX VALUES (pandas semantics):
    a null-safe index equi-join per frame — ``join='outer'`` (default)
    keeps every index value, ``'inner'`` only shared ones. One shuffle
    per frame on the shared index key (consecutive joins reuse the
    partitioning). Divergences from pandas, both documented here
    because a Spark schema cannot express them: colliding column names
    take a positional ``_{i}`` suffix (pandas keeps duplicate labels),
    and duplicate index values fan out multiplicatively (pandas raises
    InvalidIndexError when it must reindex them).
    """
    if not frames:
        raise ValueError("concat needs at least one frame")
    if axis in (1, "columns"):
        return _concat_axis1(frames, join)
    first = frames[0]
    shared_index = all(
        f._schema.index_cols == first._schema.index_cols for f in frames
    )
    index_cols = first._schema.index_cols if shared_index else ()
    projected = [f._projected(f._sdf) for f in frames]
    out = projected[0]
    for p in projected[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return DataFrame(out, index_cols=tuple(index_cols))


def _concat_axis1(frames: list["DataFrame"], join: str = "outer") -> "DataFrame":
    """Column-wise concat: fold full-outer (or inner) null-safe index
    equi-joins. Index columns are aligned POSITIONALLY onto the first
    frame's index names (pandas aligns on index values regardless of
    index name)."""
    if join not in ("outer", "inner"):
        raise ValueError(f"join must be 'outer' or 'inner', got {join!r}")
    how = "full" if join == "outer" else "inner"
    first = frames[0]
    idx = first._schema.index_cols
    if not idx:
        raise ValueError(
            "concat(axis=1) aligns on the index — every frame needs "
            "index columns (read with index_col= or set_index first)"
        )
    for f in frames[1:]:
        if len(f._schema.index_cols) != len(idx):
            raise ValueError(
                "concat(axis=1): frames have different index arities "
                f"({len(idx)} vs {len(f._schema.index_cols)})"
            )
    seen = set(idx) | {
        n for n in first._schema.display_names if n not in idx
    }
    out = first._projected()
    for i, f in enumerate(frames[1:], 1):
        p = f._projected()
        # suffix colliding DATA columns first, then rename the index
        # cols onto the first frame's index names — in that order, so
        # an index rename can never land on a still-unrenamed data
        # column of the same name (duplicate-column ambiguity)
        data_renames: dict[str, str] = {}
        for c in p.columns:
            if c in f._schema.index_cols:
                continue
            tgt = c
            if tgt in seen:
                tgt = f"{c}_{i}"
                while tgt in seen:
                    tgt += "_"
            if tgt != c:
                data_renames[c] = tgt
            seen.add(tgt)
        for old, new in data_renames.items():
            p = p.withColumnRenamed(old, new)
        for old, new in zip(f._schema.index_cols, idx):
            if old != new:
                p = p.withColumnRenamed(old, new)
        l, r = out.alias("__l"), p.alias("__r")
        cond = None
        for k in idx:
            # null-safe: pandas aligns NaN index labels with each other
            c = F.col(f"__l.{k}").eqNullSafe(F.col(f"__r.{k}"))
            cond = c if cond is None else (cond & c)
        keep = [
            F.coalesce(F.col(f"__l.{k}"), F.col(f"__r.{k}")).alias(k)
            for k in idx
        ]
        keep += [F.col(f"__l.{c}") for c in out.columns if c not in idx]
        keep += [F.col(f"__r.{c}") for c in p.columns if c not in idx]
        out = l.join(r, cond, how).select(*keep)
    return DataFrame(out, index_cols=tuple(idx))


def merge_ordered(
    left: "DataFrame",
    right: "DataFrame",
    on: str,
    left_by: "str | list[str] | None" = None,
    fill_method: str | None = None,
    suffixes: tuple[str, str] = ("_x", "_y"),
) -> "DataFrame":
    """pandas ``merge_ordered``: an ordered OUTER merge on a sortable
    key with optional group-wise forward fill — the time-series
    spelling of merge ("align these two observation streams, then
    carry values forward").

    ``left_by``: group columns taken from the LEFT frame; pandas
    merges ``right`` into EACH left group, so right rows replicate per
    group — implemented as one broadcast join of the (tiny) distinct
    group list onto right, then a single null-safe outer equi-join on
    (groups..., on). ``fill_method='ffill'`` forward-fills every data
    column per group in key order: keyed running unbounded-PRECEDING
    windows sharing one exchange — never a global sort or a
    single-partition window. Result index: (groups..., on).
    """
    if fill_method not in (None, "ffill"):
        raise ValueError("fill_method must be None or 'ffill'")
    by = (
        [left_by] if isinstance(left_by, str) else list(left_by or [])
    )
    lsdf = left._projected()
    rsdf = right._projected()
    # disambiguate non-key collisions like pandas (suffixes)
    shared = (set(lsdf.columns) & set(rsdf.columns)) - {on} - set(by)
    for c in shared:
        lsdf = lsdf.withColumnRenamed(c, f"{c}{suffixes[0]}")
        rsdf = rsdf.withColumnRenamed(c, f"{c}{suffixes[1]}")
    if by:
        groups = lsdf.select(*by).distinct()
        rsdf = rsdf.join(F.broadcast(groups))
    keys = [*by, on]
    cond = None
    l, r = lsdf.alias("__l"), rsdf.alias("__r")
    for k in keys:
        c = F.col(f"__l.{k}").eqNullSafe(F.col(f"__r.{k}"))
        cond = c if cond is None else (cond & c)
    folded = [
        F.coalesce(F.col(f"__l.{k}"), F.col(f"__r.{k}")).alias(k)
        for k in keys
    ]
    lcols = [F.col(f"__l.{c}") for c in lsdf.columns if c not in keys]
    rcols = [F.col(f"__r.{c}") for c in rsdf.columns if c not in keys]
    out = l.join(r, cond, "full").select(*folded, *lcols, *rcols)
    if fill_method == "ffill":
        from pyspark.sql import Window as _W

        w = (
            _W.partitionBy(*by)
            .orderBy(on)
            .rowsBetween(_W.unboundedPreceding, _W.currentRow)
        )
        for c in out.columns:
            if c in keys:
                continue
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return DataFrame(out, index_cols=tuple(keys))


def wide_to_long(
    df: "DataFrame",
    stubnames,
    i,
    j: str,
    sep: str = "",
    suffix: str = r"\d+",
) -> "DataFrame":
    """pandas ``pd.wide_to_long``: unpivot repeated-measure columns
    ``{stub}{sep}{suffix}`` into long format keyed by (``i``, ``j``).

    Pandas-parity points (pinned in tests/test_pandas_conveniences.py):
    the ``j`` column converts to int when EVERY captured suffix parses
    as an integer (else stays string); stub/suffix combinations with no
    matching column fill with null; non-stub columns ride along
    unchanged. The stub x suffix grid is known at PLAN time from the
    column names, so the expansion is a per-row ``explode`` of
    #suffixes structs — Generate-style, zero shuffle at any scale
    (same shape as :meth:`DataFrame.melt`).
    """
    import re as _re

    stubs = [stubnames] if isinstance(stubnames, str) else list(stubnames)
    ids = [i] if isinstance(i, str) else list(i)
    if not stubs or not ids:
        raise ValueError("wide_to_long needs stubnames and i")
    pats = {
        s: _re.compile("^" + _re.escape(s) + _re.escape(sep) + f"({suffix})$")
        for s in stubs
    }
    names = df._schema.display_names
    for c in ids:
        if c not in names:
            raise KeyError(c)
    grid: dict[str, dict[str, str]] = {}
    consumed: set[str] = set()
    for c in names:
        if c in ids:
            continue
        for s in stubs:
            m = pats[s].match(c)
            if m:
                grid.setdefault(m.group(1), {})[s] = c
                consumed.add(c)
                break
    if not grid:
        raise ValueError(
            f"no columns match stubnames {stubs!r} with sep={sep!r} "
            f"suffix={suffix!r}"
        )
    try:
        order = sorted(grid, key=int)
        j_lit = lambda k: F.lit(int(k))  # noqa: E731
    except ValueError:
        order = sorted(grid)
        j_lit = lambda k: F.lit(k)  # noqa: E731

    res = df._schema.resolve
    passthrough = [c for c in names if c not in consumed and c not in ids]
    structs = []
    for k in order:
        fields = [j_lit(k).alias(j)]
        for s in stubs:
            src = grid[k].get(s)
            fields.append(
                (F.col(res(src)) if src else F.lit(None)).alias(s)
            )
        structs.append(F.struct(*fields))
    keep = [F.col(res(c)).alias(c) for c in ids + passthrough]
    sdf = df._sdf.select(*keep, F.explode(F.array(*structs)).alias("__w2l__"))
    sdf = sdf.select(
        *[F.col(c) for c in ids + passthrough],
        F.col(f"__w2l__.{j}").alias(j),
        *[F.col(f"__w2l__.{s}").alias(s) for s in stubs],
    )
    return DataFrame(sdf, index_cols=tuple(ids + [j]))


def get_dummies(df: "DataFrame", columns=None, **kw) -> "DataFrame":
    """Module-level pandas-style ``pd.get_dummies`` — delegates to
    :meth:`DataFrame.get_dummies`."""
    return df.get_dummies(columns=columns, **kw)


def _global_order_op(
    base: SparkDataFrame, icols: list, vals: list, how: str, periods: int = 1
) -> SparkDataFrame:
    """shift/diff/pct_change/cumsum/cummax/cummin/cumprod of every
    column in ``vals`` over the global ``icols`` order — the ONE place
    the Frame and Series fronts turn the shift and cumagg kernels
    (operators/ranking) into pandas results. Returns ``icols`` plus
    each value column overwritten with its result. pct_change divides
    with IEEE semantics (prev 0 -> ±inf, 0/0 -> NaN) instead of
    raising ``DIVIDE_BY_ZERO`` under ANSI."""
    from .operators.ranking import with_global_cumagg, with_global_shift
    from .series import Series

    if how.startswith("cum"):
        out = with_global_cumagg(
            base, icols, [(c, how[3:], f"{c}__cum__") for c in vals]
        )
        res = {c: F.col(f"{c}__cum__") for c in vals}
    else:
        out = with_global_shift(base, icols, vals, periods)
        prev = {c: F.col(f"{c}__prev__") for c in vals}
        if how == "shift":
            res = prev
        elif how == "diff":
            res = {c: F.col(c) - prev[c] for c in vals}
        else:
            res = {
                c: Series._ieee_div(F.col(c), prev[c]) - 1 for c in vals
            }
    return out.select(
        *[F.col(c) for c in icols], *[res[c].alias(c) for c in vals]
    )


def _check_aggs(func, allowed: tuple, kind: str) -> list:
    aggs = [func] if isinstance(func, str) else list(func)
    for a in aggs:
        if a not in allowed:
            raise ValueError(f"unsupported {kind} agg {a!r}; one of {allowed}")
    return aggs


def _agg_frame(out, icols: list, vals: list, aggs: list, kind: str):
    """Frame-level rolling/expanding result: one column per (col, agg),
    named ``col`` for a single agg and ``col_agg`` otherwise."""
    single = len(aggs) == 1
    keep = [F.col(c) for c in icols] + [
        F.col(f"{c}__{kind}_{a}").alias(c if single else f"{c}_{a}")
        for c in vals
        for a in aggs
    ]
    return DataFrame(out.select(*keep), index_cols=tuple(icols))


class _FrameRolling:
    """Lazy frame-level rolling proxy (see DataFrame.rolling)."""

    _AGGS = ("sum", "mean", "min", "max", "count", "std", "var")

    def __init__(self, frame: "DataFrame", window: int,
                 min_periods: "int | None"):
        if window < 1:
            raise ValueError("window must be >= 1")
        if not frame.index_cols:
            raise ValueError("rolling needs an index for a total order")
        self._frame = frame
        self._window = int(window)
        self._min_periods = min_periods

    def agg(self, func) -> "DataFrame":
        from .operators.ranking import with_global_rolling

        aggs = _check_aggs(func, self._AGGS, "rolling")
        base, icols, vals = self._frame._order_base(numeric_only=True, double=True)
        out = with_global_rolling(
            base, icols, vals, self._window, aggs,
            min_periods=self._min_periods,
        )
        return _agg_frame(out, icols, vals, aggs, "rolling")

    def sum(self):
        return self.agg("sum")

    def mean(self):
        return self.agg("mean")

    def min(self):
        return self.agg("min")

    def max(self):
        return self.agg("max")

    def count(self):
        return self.agg("count")

    def std(self):
        return self.agg("std")

    def var(self):
        return self.agg("var")

    def apply(self, fn, raw: bool = False) -> "DataFrame":
        """pandas ``DataFrame.rolling().apply(fn)``: every numeric
        column rolls through ONE bucketed exchange and ONE
        Arrow-batched applyInPandas (pandas' own rolling per bucket —
        min_periods/raw exact), each column overwritten with its
        DOUBLE result. Arbitrary-Python escape hatch; built-in aggs
        stay on the JVM path."""
        from .operators.ranking import with_global_rolling_apply

        base, icols, vals = self._frame._order_base(numeric_only=True, double=True)
        out = with_global_rolling_apply(
            base, icols, vals, self._window, fn,
            self._min_periods, raw=raw,
        )
        return DataFrame(
            out.select(*icols, *vals), index_cols=tuple(icols)
        )


class _FrameExpanding:
    """Lazy frame-level expanding proxy (see DataFrame.expanding)."""

    _AGGS = ("sum", "mean", "min", "max", "count", "std", "var")

    def __init__(self, frame: "DataFrame", min_periods: int):
        if not frame.index_cols:
            raise ValueError("expanding needs an index for a total order")
        self._frame = frame
        self._min_periods = int(min_periods)

    def agg(self, func) -> "DataFrame":
        from .operators.ranking import with_global_expanding

        aggs = _check_aggs(func, self._AGGS, "expanding")
        base, icols, vals = self._frame._order_base(numeric_only=True, double=True)
        out = with_global_expanding(
            base, icols, vals, aggs, min_periods=self._min_periods,
        )
        return _agg_frame(out, icols, vals, aggs, "expanding")

    def sum(self):
        return self.agg("sum")

    def mean(self):
        return self.agg("mean")

    def min(self):
        return self.agg("min")

    def max(self):
        return self.agg("max")

    def count(self):
        return self.agg("count")

    def std(self):
        return self.agg("std")

    def var(self):
        return self.agg("var")

    def apply(self, fn, raw: bool = False):
        """Not distributable: an arbitrary fn over EVERY growing prefix
        needs the full prefix per row (pandas pays O(n^2) locally; a
        cluster would move O(n^2) data). Use the expanding aggs above,
        ``rolling(n).apply`` for bounded windows, or
        ``groupby().expanding().apply`` where the group bounds the
        prefix."""
        raise NotImplementedError(
            "expanding().apply is not distributable (needs the full "
            "prefix per row); use expanding aggs, rolling(n).apply, or "
            "groupby().expanding().apply"
        )


class _FrameEwm:
    """Lazy frame-level ewm proxy (see DataFrame.ewm)."""

    def __init__(self, frame: "DataFrame", alpha, span, halflife, com,
                 min_periods: int):
        if not frame.index_cols:
            raise ValueError("ewm needs an index for row order")
        self._frame = frame
        self._alpha, self._span = alpha, span
        self._halflife, self._com = halflife, com
        self._min_periods = int(min_periods)

    def mean(self) -> "DataFrame":
        from .operators.windowed import ewm_global

        base, icols, vals = self._frame._order_base(numeric_only=True, double=True)
        out = ewm_global(
            base, icols, vals, alpha=self._alpha, span=self._span,
            halflife=self._halflife, com=self._com,
            min_periods=self._min_periods,
        )
        return DataFrame(
            out.select(*icols, *vals), index_cols=tuple(icols)
        )
