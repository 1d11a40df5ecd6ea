"""Deterministic synthetic tables for the benchmark.

The tables mirror the engine's TPC-H-ish test schema (customer, orders,
lineitem, documents) at a chosen scale factor: ``sf=0.1`` gives 15k
customers, 150k orders, 600k line items and 5k documents. Every value
is drawn from one ``numpy`` generator seeded by ``data_seed``, so the
same (sf, data_seed) always writes byte-identical parquet.

Documents are word salad over a 30-word vocabulary; 5 % are copies of
an earlier document with `` dup`` appended, as in the test data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

_VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _dates(rng, n, days):
    return _EPOCH_1995 + rng.integers(0, days, n) * np.timedelta64(86_400_000_000, "us")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def make_tables(sf: float, data_seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(data_seed)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)

    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, 2404),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, 2499),
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n_docs, p=_LANG_P)].astype(object),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "documents": documents}


def ensure_tables(root: str, sf: float, data_seed: int) -> str:
    """Write the tables once under ``root`` and return their directory.

    The directory name carries (sf, data_seed); it is built in a
    sibling temp directory and renamed into place, so an interrupted
    write never leaves a half-written table set behind."""
    out = os.path.join(root, f"sf{sf}-d{data_seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, pdf in make_tables(sf, data_seed).items():
        pdf.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
    try:
        os.rename(tmp, out)
    except OSError:  # another process renamed its copy into place first
        shutil.rmtree(tmp, ignore_errors=True)
    return out
