"""Deterministic input tables for the benchmark.

The tables carry the schemas of the engine's TPC-H-ish test tables
(``sources.tables.TABLES``), restricted to the ones the benchmark's
workloads read: ``nation``, ``customer``, ``supplier``, ``lineitem`` and
``documents``.  Sizes scale with ``sf`` the way the test tables do (sf0.1:
15k customers, 1k suppliers, 600k line items, 5k documents).  The same
``(sf, data_seed)`` always writes the same bytes, so the DuckDB expected
results can be cached next to them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data vector customer join").split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def table_sizes(sf: float) -> dict:
    return {
        "customer": max(100, int(150_000 * sf)),
        "supplier": max(20, int(10_000 * sf)),
        "lineitem": max(1_000, int(6_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
    }


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": keys,
                     "n_name": [f"NATION_{k}" for k in keys],
                     "n_regionkey": (keys % 5).astype(np.int32)})


def _customer(rng, n) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def _supplier(rng, n) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n),
    })


def lineitem_rows(rng, n, orderkey_base: int = 0) -> pa.Table:
    """``n`` line items; also the shape of the lake workload's INSERT
    batches, whose order keys start above every existing one."""
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 3650, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": orderkey_base + rng.integers(0, max(1, n // 4), n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 100_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })


def _documents(rng, n) -> pa.Table:
    """Random token documents plus near-duplicates (a copy of an earlier
    document with a few tokens edited) and a handful of exact copies, so
    the dedup operators find both kinds."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.06:
            toks = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                toks[rng.integers(0, len(toks))] = "dup"
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, sf: float, data_seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one file each, as
    in the engine's test data)."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = table_sizes(sf)
    rng = np.random.default_rng(data_seed)
    tables = {
        "nation": _nation(),
        "customer": _customer(rng, sizes["customer"]),
        "supplier": _supplier(rng, sizes["supplier"]),
        "lineitem": lineitem_rows(rng, sizes["lineitem"]),
        "documents": _documents(rng, sizes["documents"]),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
