"""Schema metadata layer — the FieldMappings analog.

The reference (eland) keeps a capability matrix per column: display name,
physical es_field_name, es_dtype, pd_dtype, is_searchable/is_aggregatable,
scripted flag (reference: eland/field_mappings.py:64-180). On Spark the
searchable/aggregatable duality disappears (every column is both), so the
metadata that survives is:

- display name <-> physical column name (renames are metadata-only,
  reference eland/field_mappings.py:860-889),
- pandas dtype for each Spark type (reference map
  eland/field_mappings.py:152-167), used by the result layer,
- which columns are derived (scripted-field analog,
  reference eland/field_mappings.py:679-714).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import pandas as pd
from pyspark.sql import types as T

__all__ = ["Field", "Schema", "spark_to_pd_dtype", "pd_to_spark_type"]

_SPARK_TO_PD = {
    T.StringType: "object",
    T.LongType: "int64",
    T.IntegerType: "int32",
    T.ShortType: "int16",
    T.ByteType: "int8",
    T.DoubleType: "float64",
    T.FloatType: "float32",
    T.BooleanType: "bool",
    T.TimestampType: "datetime64[ns]",
    T.TimestampNTZType: "datetime64[ns]",
    T.DateType: "datetime64[ns]",
    T.BinaryType: "object",
}

_NUMERIC_SPARK = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.DecimalType,
)


def spark_to_pd_dtype(dt: T.DataType) -> str:
    """Spark type -> pandas dtype string (reference table
    eland/field_mappings.py:461-476; unknown types fall back to object)."""
    return _SPARK_TO_PD.get(type(dt), "object")


def pd_to_spark_type(dtype) -> T.DataType:
    """pandas/numpy dtype -> Spark type for ingest
    (reference eland/field_mappings.py:478-515). Extension dtypes map
    like their numpy twins: nullable ``Int*``/``UInt*`` -> bigint,
    ``boolean`` -> boolean, ``string`` -> string, tz-aware datetimes ->
    timestamp, ``Categorical`` -> the type of its categories."""
    dtype = pd.api.types.pandas_dtype(dtype)
    if isinstance(dtype, pd.CategoricalDtype):
        if dtype.categories is None:
            raise ValueError("a 'category' dtype without categories has no Spark type")
        return pd_to_spark_type(dtype.categories.dtype)
    name = dtype.name.lower()
    if name.startswith("int") or name.startswith("uint"):
        return T.LongType()
    if name.startswith("float"):
        return T.DoubleType()
    if name in ("bool", "boolean"):
        return T.BooleanType()
    if name.startswith("datetime"):
        return T.TimestampType()
    return T.StringType()


@dataclass(frozen=True)
class Field:
    """One column's capability record (reference eland/field_mappings.py:64-118)."""

    display_name: str
    column_name: str  # physical name in the underlying Spark plan
    spark_type: T.DataType
    is_derived: bool = False  # scripted-field analog

    @property
    def pd_dtype(self) -> str:
        return spark_to_pd_dtype(self.spark_type)

    @property
    def is_numeric(self) -> bool:
        return isinstance(self.spark_type, _NUMERIC_SPARK)

    @property
    def is_bool(self) -> bool:
        return isinstance(self.spark_type, T.BooleanType)

    @property
    def is_timestamp(self) -> bool:
        return isinstance(
            self.spark_type, (T.TimestampType, T.TimestampNTZType, T.DateType)
        )

    @property
    def is_string(self) -> bool:
        return isinstance(self.spark_type, T.StringType)

    def is_agg_compatible(self, agg: str) -> bool:
        """Which agg runs on which type (reference
        eland/field_mappings.py:96-118): cardinality/value_count/mode on
        everything; numeric+bool for all aggs; timestamps only for
        min/max/mean/median/quantile; mad excludes bool."""
        if agg in ("nunique", "count", "mode"):
            return True
        if self.is_numeric or (self.is_bool and agg != "mad"):
            return True
        if self.is_timestamp:
            return agg in ("min", "max", "mean", "median", "quantile", "describe")
        return False


@dataclass(frozen=True)
class Schema:
    """Ordered column metadata for one frame; immutable + cheap to copy
    (the reference copies FieldMappings per op, eland/query_compiler.py:74-100).
    """

    fields: tuple[Field, ...] = field(default_factory=tuple)
    index_cols: tuple[str, ...] = ()  # physical index (row-identity) columns

    @classmethod
    def from_spark(cls, schema: T.StructType, index_cols: tuple[str, ...] = ()) -> "Schema":
        """Natural-key index columns stay visible (unlike the reference's
        synthetic ``_id``, eland/index.py:41-42 — they are real columns
        here, they just also carry row-identity for ordering)."""
        flds = tuple(Field(f.name, f.name, f.dataType) for f in schema.fields)
        return cls(flds, tuple(index_cols))

    # -- lookups ---------------------------------------------------------
    @property
    def display_names(self) -> list[str]:
        return [f.display_name for f in self.fields]

    def __contains__(self, name: str) -> bool:
        return any(f.display_name == name for f in self.fields)

    def field(self, display_name: str) -> Field:
        for f in self.fields:
            if f.display_name == display_name:
                return f
        raise KeyError(display_name)

    def resolve(self, display_name: str) -> str:
        """Display name -> physical column name."""
        return self.field(display_name).column_name

    def resolve_any(self, name: str) -> str:
        """Like :meth:`resolve`, but index columns stay addressable even
        after a projection dropped them from the visible fields —
        ``select`` is metadata-only, so the physical index column is
        still present in the underlying plan."""
        try:
            return self.resolve(name)
        except KeyError:
            if name in self.index_cols:
                return name
            raise

    # -- transforms (all metadata-only) ----------------------------------
    def select(self, names: list[str]) -> "Schema":
        missing = [n for n in names if n not in self]
        if missing:
            raise KeyError(f"columns not found: {missing}")
        by_name = {f.display_name: f for f in self.fields}
        return replace(self, fields=tuple(by_name[n] for n in names))

    def drop(self, names: list[str]) -> "Schema":
        missing = [n for n in names if n not in self]
        if missing:
            raise KeyError(f"columns not found: {missing}")
        return replace(
            self, fields=tuple(f for f in self.fields if f.display_name not in names)
        )

    def rename(self, mapping: dict[str, str]) -> "Schema":
        return replace(
            self,
            fields=tuple(
                replace(f, display_name=mapping.get(f.display_name, f.display_name))
                for f in self.fields
            ),
        )

    def with_field(self, f: Field) -> "Schema":
        if f.display_name in self:
            return replace(
                self,
                fields=tuple(
                    f if g.display_name == f.display_name else g for g in self.fields
                ),
            )
        return replace(self, fields=self.fields + (f,))

    def numeric_fields(
        self, numeric_only: bool | None, agg: str, include_bool: bool = True
    ) -> list[Field]:
        """numeric_only tri-state (reference eland/ndframe.py:192-606):
        True -> numeric(+bool) only; None -> agg-compatible only;
        False -> all columns (caller NaN-pads incompatibles)."""
        if numeric_only is True:
            return [
                f
                for f in self.fields
                if f.is_numeric or (include_bool and f.is_bool)
            ]
        if numeric_only is None:
            return [f for f in self.fields if f.is_agg_compatible(agg)]
        return list(self.fields)
