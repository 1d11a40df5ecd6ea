"""Index-column abstraction (reference eland/index.py:24-92).

The reference designates one field as row identity, defaulting to the
non-source ``_id`` with ``_doc``-order sorting. Here identity is the
frame's index column(s) frozen at read time; deterministic ordering for
head/tail/repr comes from sorting by them (SURVEY §7.3). Deliberately
tiny, like the reference ("very limited API compared to pandas.Index").
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from .frame import DataFrame

__all__ = ["Index"]


class Index:
    def __init__(self, frame: "DataFrame"):
        self._frame = frame

    @property
    def es_index_fields(self) -> tuple[str, ...]:
        return self._frame._schema.index_cols

    @property
    def es_index_field(self) -> str | None:
        cols = self._frame._schema.index_cols
        return cols[0] if cols else None

    @property
    def is_source_field(self) -> bool:
        # always a real column here (the reference's synthetic _id has no
        # Spark analog; identity is frozen at source, SURVEY §1.4)
        return bool(self._frame._schema.index_cols)

    def __len__(self) -> int:
        # triggers a count, like the reference (eland/index.py:78-79)
        return self._frame.shape[0]

    def __repr__(self) -> str:
        return f"<eland_spark.Index fields={list(self.es_index_fields)!r}>"

    def es_info(self) -> str:
        return (
            "Index:\n"
            f" es_index_fields: {list(self.es_index_fields)}\n"
            f" is_source_field: {self.is_source_field}\n"
        )
