"""Driver-held collections as ONE folded Spark literal.

``F.lit(list)``, ``F.array(*[F.lit(x) ...])`` and
``F.create_map(*[F.lit(v) ...])`` build the literal one py4j round trip
per element (about four gateway commands each, PySpark 4.1 expands
``F.lit(list)`` to ``array(*[lit(x) ...])`` too), so a 4,096-slot
weight vector costs thousands of commands before Spark sees the plan.

These helpers ship the whole collection as one JSON string literal
parsed by ``from_json``. The parse is foldable, so the optimizer turns
it into a plain array/map literal: nothing is parsed per row, and the
build cost is a handful of commands whatever the size. Doubles
round-trip bit-exactly: ``json.dumps`` writes the shortest repr (and
``NaN``/``Infinity``/``-Infinity``, which Spark's JSON reader accepts),
the JVM parses with correct rounding, ``-0.0`` and subnormals included.
Decimals travel as exact JSON numbers, binaries as base64, dates and
timestamps as ISO strings (a ``timestamp`` value, which ``collect()``
returns as a naive local-time datetime, carries its local UTC offset so
the instant survives any session time zone).
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
from typing import Iterable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


def _json(values: Iterable, element_type: str) -> str:
    def enc(v) -> str:
        if isinstance(v, datetime.datetime):
            if element_type == "timestamp":
                v = v.astimezone()
            return json.dumps(v.isoformat())
        if isinstance(v, datetime.date):
            return json.dumps(v.isoformat())
        if isinstance(v, decimal.Decimal):
            return str(v)
        if isinstance(v, (bytes, bytearray)):
            return json.dumps(base64.b64encode(v).decode("ascii"))
        # numpy scalars (np.int64 is no int subclass) -> Python scalars
        return json.dumps(v, default=lambda x: x.item())

    return "[" + ",".join(enc(v) for v in values) + "]"


def array_lit(values: Iterable, element_type: str) -> Column:
    """``array<element_type>`` literal of ``values`` (``None`` -> null
    element); ``element_type`` is a Spark DDL type, nestable
    (``"array<double>"`` for a list of vectors of plain JSON values)."""
    return F.from_json(
        F.lit(_json(values, element_type)), f"array<{element_type}>"
    )


def map_lit(mapping: Mapping, key_type: str, value_type: str) -> Column:
    """``map<key_type, value_type>`` literal of ``mapping``."""
    return F.map_from_arrays(
        array_lit(mapping.keys(), key_type),
        array_lit(mapping.values(), value_type),
    )
