"""Plan-build cost in py4j gateway commands, pinned.

Every ``functions.*``/``Column``/``DataFrame`` call is a few py4j round
trips; a per-element literal or per-column rebuild multiplies that by
the data's size. These tests count the commands the Python side sends
and fail when a build path grows with the number of values again.
"""

import math
import re
import struct
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from eland_spark._literals import array_lit, map_lit

PKG = Path(__file__).resolve().parent.parent / "eland_spark"


@pytest.fixture
def gateway_commands(spark, monkeypatch):
    """``with gateway_commands() as n: ...`` then ``n[0]`` = commands sent.

    py4j's object-release commands ("m d") are left out: they follow
    Python refcounting and GC timing, not the build, and made repeated
    identical builds differ by a few dozen."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(release):
            count[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    @contextmanager
    def counted():
        out = [0]
        start = count[0]
        try:
            yield out
        finally:
            out[0] = count[0] - start

    F.col("warm")  # first-call lookups stay out of the counts
    return counted


def test_col_costs_three_commands(gateway_commands):
    with gateway_commands() as n:
        F.col("x")
    assert n[0] <= 3, n[0]


def test_score_weights_ship_in_constant_commands(gateway_commands):
    from eland_spark.operators.classifier import score_hashed_classifier

    score_hashed_classifier(F.col("text"), [0.0], portable=True)  # warm
    counts = {}
    for k in (64, 4096):
        weights = [0.001 * i for i in range(k)]
        with gateway_commands() as n:
            score_hashed_classifier(F.col("text"), weights, 0.1, portable=True)
        counts[k] = n[0]
    # one array literal, whatever its length (per-element lit() was
    # ~4 commands per weight: > 16,000 at 4,096 weights); the fixed
    # rest is 39 functions.* calls at 3 commands each, 141 in all
    assert counts[4096] == counts[64], counts
    assert counts[4096] <= 160, counts


def test_train_classifier_build_does_not_grow_with_buckets(spark, gateway_commands):
    from eland_spark.operators.classifier import train_linear_classifier

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} word{i}", i % 2) for i in range(40)],
        "id long, text string, y int",
    )
    train_linear_classifier(docs, "text", "y", "id", n_buckets=8, iters=2)  # warm
    counts = {}
    for k in (1024, 4096):
        with gateway_commands() as n:
            train_linear_classifier(docs, "text", "y", "id", n_buckets=k, iters=2)
        counts[k] = n[0]
    assert counts[1024] == counts[4096], counts


def test_identity_projection_is_free(spark, gateway_commands, sf_dir):
    import eland_spark as es

    orders = es.read_parquet(spark, f"{sf_dir}/orders.parquet", index_col="o_orderkey")
    with gateway_commands() as n:
        out = orders.to_spark()
    assert out is orders._sdf and n[0] == 0, n[0]
    # a rename still projects under the display name
    renamed = orders.rename(columns={"o_custkey": "cust"}).to_spark()
    assert "cust" in renamed.columns and "o_custkey" not in renamed.columns


_PER_ELEMENT = re.compile(
    r"F\.lit\(\s*\["
    r"|F\.array\(\s*\*\s*\[\s*F\.lit\("
    r"|F\.create_map\(\s*\*\s*\[\s*F\.lit\("
)


def test_no_per_element_literals_in_package():
    hits = [
        f"{p.relative_to(PKG.parent)}:{src.count(chr(10), 0, m.start()) + 1}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "_literals.py"
        for src in [p.read_text()]
        for m in _PER_ELEMENT.finditer(src)
    ]
    assert not hits, f"per-element literal (use eland_spark._literals): {hits}"


# ---------------------------------------------------------------- literals


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_array_lit_doubles_are_bit_exact(spark):
    import random

    rng = random.Random(5)
    randoms = []
    while len(randoms) < 200:
        x = struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))[0]
        if not math.isnan(x):
            randoms.append(x)
    vals = [
        0.0, -0.0, 5e-324, -5e-324, 2.225073858507201e-308,
        2.2250738585072014e-308, 1.7976931348623157e308,
        -1.7976931348623157e308, float("inf"), float("-inf"), float("nan"),
        0.1, 1 / 3, 1e-300, 123456789.123456789,
    ] + randoms
    got = spark.range(1).select(array_lit(vals, "double").alias("a")).first()["a"]
    assert len(got) == len(vals)
    for g, v in zip(got, vals):
        assert (math.isnan(g) and math.isnan(v)) or _bits(g) == _bits(v), (g, v)


def test_literals_fold_and_carry_nulls_strings_nesting(spark):
    import numpy as np

    sdf = spark.range(1).select(
        array_lit(["a,b", None, 'é"x\\', ""], "string").alias("s"),
        array_lit([[1.5, None], [], [float("-inf")]], "array<double>").alias("n"),
        array_lit(np.arange(3, dtype=np.int64), "bigint").alias("i"),
        map_lit({3: [0.5, None], -7: [-0.0]}, "bigint", "array<double>").alias("m"),
        map_lit({"x": 1}, "string", "bigint")[F.lit("x")].alias("hit"),
        array_lit([], "double").alias("e"),
    )
    optimized = sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized and "map_from_arrays" not in optimized
    row = sdf.first()
    assert row["s"] == ["a,b", None, 'é"x\\', ""]
    assert row["n"] == [[1.5, None], [], [float("-inf")]]
    assert row["i"] == [0, 1, 2]
    assert row["m"] == {3: [0.5, None], -7: [-0.0]}
    assert _bits(row["m"][-7][0]) == _bits(-0.0)
    assert row["hit"] == 1 and row["e"] == []


def test_bucket_carries_keep_every_column_type(spark):
    """ffill/bfill and running max carry each bucket's last value into
    the next bucket through a typed map literal: timestamps (session
    and wall-clock), dates, decimals, strings and binaries survive it
    exactly."""
    import datetime
    import decimal

    import eland_spark as es
    from eland_spark.operators.ranking import with_global_cumagg

    base = datetime.datetime(1999, 12, 31, 23, 59, 58, 123456)
    rows = []
    for k in range(300):
        keep = k % 37 == 5
        rows.append((
            k,
            base - datetime.timedelta(seconds=k, microseconds=k) if keep else None,
            base + datetime.timedelta(days=k, microseconds=7 * k) if keep else None,
            datetime.date(2000, 1, 1) + datetime.timedelta(days=k) if keep else None,
            decimal.Decimal(k).scaleb(-6) - decimal.Decimal("12345.5") if keep else None,
            f"s{k}" if keep else None,
            bytes([k % 256, 0]) if keep else None,
        ))
    sdf = spark.createDataFrame(
        rows,
        "k long, ts timestamp, ntz timestamp_ntz, d date, dec decimal(20,6), "
        "s string, b binary",
    ).repartition(3)
    frame = es.DataFrame(sdf, index_cols=("k",))

    def fill(seq):
        out, last = [], None
        for v in seq:
            last = v if v is not None else last
            out.append(last)
        return out

    cols = ["ts", "ntz", "d", "dec", "s", "b"]
    got = {r["k"]: r for r in frame.ffill().to_spark().collect()}
    for i, c in enumerate(cols, start=1):
        assert [got[k][c] for k in range(300)] == fill([r[i] for r in rows]), c
    got = {r["k"]: r for r in frame.bfill().to_spark().collect()}
    for i, c in enumerate(cols, start=1):
        assert [got[k][c] for k in range(300)] == fill(
            [r[i] for r in rows][::-1])[::-1], c

    # ts falls with k: every later bucket's running max is carried in
    running = with_global_cumagg(sdf, ["k"], [("ts", "max", "ts_max")])
    got = {r["k"]: r["ts_max"] for r in running.collect()}
    first = next(r[1] for r in rows if r[1] is not None)
    assert all(got[k] == first for k in range(300) if rows[k][1] is not None)
