"""Seeded generator for the benchmark's input tables.

Writes the tables the engine's parquet sources read (region, nation,
customer, supplier, part, orders, lineitem, documents): a TPC-H-like star
schema plus a small text corpus. The same ``(seed, scale)`` always
produces byte-identical tables. ``scale=1`` is about the size of the repository's sf0.001 fixture
(150 customers, 1500 orders, ~6000 lineitems); table sizes grow linearly.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "cold", "old", "new")
PART_NOUN = ("widget", "bolt", "rod", "ring", "anvil", "gear")
PART_TYPES = ("ECONOMY", "PROMO", "MEDIUM", "SMALL", "LARGE", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EPOCH = dt.datetime(1995, 1, 1)


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    base = np.datetime64(_EPOCH, "us")
    off = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: int = 1):
    """Return ``{name: pyarrow.Table}`` for one seeded data set."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_docs = 1500 * scale, 200
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }
    )
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    lines = np.clip(rng.poisson(4.0, n_ord), 1, 12)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _days(rng, n_li, 2500),
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return out


def write(root: str, seed: int, scale: int = 1) -> str:
    """Write one data set as ``<root>/<table>.parquet``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    return root
