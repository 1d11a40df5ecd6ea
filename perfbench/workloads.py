"""The two closed-loop workloads.

Each workload turns a seeded generator into rounds of ops. A round
holds every op kind of the workload once, in seeded order with seeded
parameters, so every complete round has the same mix.

An op calls the package only through ``call(layer, fn, *args)``: the
untraced loop passes the bare call, the traced loop a span recorder.
The layer names are the ones ``perfbench/README.md`` tabulates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench.harness import direct_call

LINEITEM_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
INDEX = {"orders": "o_orderkey", "customer": "c_custkey", "lineitem": LINEITEM_KEY,
         "documents": "doc_id"}


@dataclass
class Op:
    kind: str
    params: dict


def _explain(sdf):
    from eland_spark.plans.inspect import explain_str

    return explain_str(sdf)


def _frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9
        )
    except AssertionError as e:
        return " ".join(str(e).split())[:400] or "frames differ"
    return None


class Workload:
    name = ""
    sf = 0.1
    tables: tuple[str, ...] = ()

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.frames: dict = {}
        self.spark = None

    def table_path(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    def open(self, spark):
        """Table open: the ``etl.read`` layer of set-up."""
        import eland_spark as es

        self.spark = spark
        self.frames = {
            t: es.read_parquet(spark, self.table_path(t), index_col=INDEX[t])
            for t in self.tables
        }

    def round(self, rng: np.random.Generator) -> list[Op]:
        raise NotImplementedError

    def run(self, op: Op, call, trace: bool):
        """Execute one op through ``call``; return what ``check`` needs."""
        raise NotImplementedError

    def warm(self, op: Op):
        """The untimed set-up pass; by default the op itself."""
        return self.run(op, direct_call, False)

    def check(self, op: Op, out) -> str | None:
        """None when ``out`` is right, else what is wrong."""
        raise NotImplementedError

    def op_counts(self, op: Op) -> dict:
        """Counts of the op just run that no Spark job shows."""
        return {}


# ---------------------------------------------------------------------------
# interactive_frame
# ---------------------------------------------------------------------------

class InteractiveFrame(Workload):
    """An analyst session of short pandas-style calls, plus one ingest
    round trip: a pandas slice of orders written through
    ``etl.pandas_to_spark`` into one of three fixed paths (``replace``,
    so nothing grows), filtered and pulled back with ``to_pandas``.
    Every result is checked against pandas on the same parquet."""

    name = "interactive_frame"
    tables = ("orders", "customer", "lineitem")
    KINDS = ("filter_head", "groupby_mean", "value_counts", "sort_head",
             "es_query", "describe", "ingest_roundtrip")
    SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    INGEST_ROWS = 50_000
    INGEST_PATHS = 3
    INGEST_BAND = 100_000  # width of the read-back's o_totalprice filter

    def __init__(self, data_dir, work_dir):
        super().__init__(data_dir, work_dir)
        self.pd = {
            t: pd.read_parquet(self.table_path(t)).set_index(INDEX[t]).sort_index()
            for t in self.tables
        }
        # 50k rows, or a third of orders at scales that have fewer
        self.ingest_rows = min(self.INGEST_ROWS, len(self.pd["orders"]) // 3)
        self.ingest_dir = os.path.join(work_dir, "ingest")

    def round(self, rng):
        ops = []
        # fixed-width windows keep each kind's work the same from seed to seed
        for kind in rng.permutation(self.KINDS):
            day = pd.Timestamp("1995-01-01") + pd.Timedelta(days=int(rng.integers(0, 2000)))
            if kind == "filter_head":
                p = {"price": float(rng.uniform(100_000, 450_000)), "n": int(rng.integers(5, 50))}
            elif kind in ("groupby_mean", "value_counts"):
                p = {"day": day, "until": day + pd.Timedelta(days=365)}
            elif kind == "sort_head":
                p = {"segment": self.SEGMENTS[int(rng.integers(0, 5))],
                     "ascending": bool(rng.integers(0, 2)), "n": int(rng.integers(5, 50))}
            elif kind == "es_query":
                lo = float(rng.uniform(1_000, 495_000))
                p = {"lo": lo, "hi": lo + 2_000.0,
                     "priorities": sorted(rng.choice(self.PRIORITIES, 2, replace=False).tolist())}
            elif kind == "describe":
                p = {"nation": int(rng.integers(0, 25))}
            else:
                p = {"start": int(rng.integers(0, len(self.pd["orders"]) - self.ingest_rows)),
                     "price": float(rng.uniform(1_000, 400_000)),
                     "path": f"slot{int(rng.integers(0, self.INGEST_PATHS))}"}
            ops.append(Op(str(kind), p))
        return ops

    def run(self, op, call, trace):
        o, c, li = self.frames["orders"], self.frames["customer"], self.frames["lineitem"]
        p = op.params
        if op.kind == "filter_head":
            built = call("frame.build", lambda: o[o.o_totalprice > p["price"]].head(p["n"]))
            result = built.to_pandas
        elif op.kind == "groupby_mean":
            built = call("frame.build", lambda: li[(li.l_shipdate >= str(p["day"].date()))
                                                   & (li.l_shipdate < str(p["until"].date()))])
            grouped = call("frame.build", lambda: built.groupby("l_returnflag"))
            result = grouped.mean
        elif op.kind == "value_counts":
            built = call("frame.build", lambda: o[(o.o_orderdate >= str(p["day"].date()))
                                                  & (o.o_orderdate < str(p["until"].date()))])
            result = lambda: built.o_orderpriority.value_counts()  # noqa: E731
        elif op.kind == "sort_head":
            built = call("frame.build", lambda: c[c.c_mktsegment == p["segment"]]
                         .sort_values("c_acctbal", ascending=p["ascending"]).head(p["n"]))
            result = built.to_pandas
        elif op.kind == "es_query":
            query = {"bool": {"filter": [
                {"range": {"o_totalprice": {"gte": p["lo"], "lt": p["hi"]}}},
                {"terms": {"o_orderpriority": p["priorities"]}},
            ]}}
            built = call("frame.build", lambda: o.es_query(query))
            result = built.to_pandas
        elif op.kind == "describe":
            built = call("frame.build", lambda: c[c.c_nationkey == p["nation"]])
            result = built.describe
        else:
            import eland_spark as es

            written = call("etl.write", es.pandas_to_spark, self._slice(op), self.spark,
                           os.path.join(self.ingest_dir, p["path"]), if_exists="replace")
            built = call("frame.build", lambda: written[
                (written.o_totalprice >= p["price"])
                & (written.o_totalprice < p["price"] + self.INGEST_BAND)])
            result = built.to_pandas
        if trace:
            call("plans.plan", lambda: _explain(built.to_spark()))
        return call("result", result)

    def check(self, op, out):
        o, c, li = self.pd["orders"], self.pd["customer"], self.pd["lineitem"]
        p = op.params
        if op.kind == "filter_head":
            want = o[o.o_totalprice > p["price"]].head(p["n"]).reset_index()
        elif op.kind == "groupby_mean":
            cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
            rows = li[(li.l_shipdate >= p["day"]) & (li.l_shipdate < p["until"])]
            want = rows.groupby("l_returnflag")[cols].mean()
            out = out[cols] if set(cols) <= set(out.columns) else out
        elif op.kind == "value_counts":
            want = o[(o.o_orderdate >= p["day"]) & (o.o_orderdate < p["until"])].o_orderpriority.value_counts()
            got = dict(zip(out.index, out.tolist()))
            return None if got == want.to_dict() else f"value_counts {got} != {want.to_dict()}"
        elif op.kind == "sort_head":
            want = (c[c.c_mktsegment == p["segment"]]
                    .sort_values("c_acctbal", ascending=p["ascending"], kind="mergesort")
                    .head(p["n"]).reset_index(drop=True))
            out = out.reset_index(drop=True)[list(want.columns)] \
                if set(want.columns) <= set(out.columns) else out
        elif op.kind == "es_query":
            want = o[(o.o_totalprice >= p["lo"]) & (o.o_totalprice < p["hi"])
                     & o.o_orderpriority.isin(p["priorities"])].reset_index()
        elif op.kind == "describe":
            want = c[c.c_nationkey == p["nation"]].describe()
            out = out[list(want.columns)] if set(want.columns) <= set(out.columns) else out
        else:
            pdf = self._slice(op)
            want = pdf[(pdf.o_totalprice >= p["price"])
                       & (pdf.o_totalprice < p["price"] + self.INGEST_BAND)].reset_index()
            out = out.sort_values("o_orderkey", ignore_index=True)
        return _frames_differ(out, want)

    def _slice(self, op: Op) -> pd.DataFrame:
        start = op.params["start"]
        return self.pd["orders"].iloc[start:start + self.ingest_rows]

    def op_counts(self, op):
        if op.kind != "ingest_roundtrip":
            return {}
        path = os.path.join(self.ingest_dir, op.params["path"])
        written = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
                      if f.endswith(".parquet"))
        return {"write_bytes": written,
                "input_bytes": int(self._slice(op).memory_usage(deep=True).sum())}


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------

class CurationBatch(Workload):
    """Driver-contract pipelines into the noop sink; each query is
    checked once per run, in the warm pass, against its DuckDB
    ``oracle_sql()`` twin."""

    name = "curation_batch"
    sf = 0.001
    tables = ("lineitem", "documents")
    KINDS = ("spearman", "train_classifier", "dsir_select", "label_propagation")

    def __init__(self, data_dir, work_dir):
        super().__init__(data_dir, work_dir)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def round(self, rng):
        return [Op(str(k), {}) for k in rng.permutation(self.KINDS)]

    def run(self, op, call, trace):
        sdf = call("operators.build", self.queries[op.kind], self.spark, self.data_dir)
        if trace:
            call("plans.plan", _explain, sdf)
        call("exec", lambda: sdf.write.format("noop").mode("overwrite").save())
        return None

    def warm(self, op):
        return self.queries[op.kind](self.spark, self.data_dir).toPandas()

    def check(self, op, out):
        if out is None:
            return None  # timed ops sink to noop; each query's rows are checked in the warm pass
        import duckdb
        from driver_gate import driver_check

        with duckdb.connect() as con:
            for t in os.listdir(self.data_dir):
                name = t.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.data_dir, t)}')")
            want = con.execute(self.oracles[op.kind]).df()
        rec = driver_check(op.kind, out, want)
        if rec["hash_match"]:
            return None
        return f"{op.kind}: oracle mismatch {rec}"


WORKLOADS = {w.name: w for w in (InteractiveFrame, CurationBatch)}
