"""Seeded fixture generator for the benchmark.

Writes the ten tables the query catalogue reads (``catalog.TABLES``) as
one parquet file each, with the schemas and value domains of the
project's synthetic test data (see FIXTURES.md), scaled by ``sf`` the
same way: lineitem has 6,000,000 x sf rows.  The same seed gives the same
bytes, so every run of a workload sees the same inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EPOCH = dt.datetime(1970, 1, 1)


def _days(start: dt.datetime, end: dt.datetime) -> tuple[int, int]:
    return (start - EPOCH).days, (end - EPOCH).days


def _ms_dates(rng, n: int, start: dt.datetime, end: dt.datetime) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * 86_400_000, pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n, dtype=np.int64)
    return cents / 100.0


def _choice(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale ``sf`` (FIXTURES.md ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(100, round(1_500_000 * sf)),
        "lineitem": max(400, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npt = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(npt, dtype=np.int64),
        "p_name": _choice(rng, names, npt),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], npt),
        "p_type": _choice(rng, PART_TYPES, npt),
        "p_size": rng.integers(1, 51, npt).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(npt) % 1000) / 10.0,
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _ms_dates(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npt, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _ms_dates(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    ne = n["events"]
    start_us = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, ne, dtype=np.int64))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start_us + offsets, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, ne * 3 // 200), ne, dtype=np.int64),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": _money(rng, ne, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
