"""Seeded input tables for the benchmark.

Writes the ten tables the engine's scan layer reads (``sources.registry``:
a TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``), one parquet file each, with the column names and types
the engine expects. Row counts follow TPC-H scaling (sf0.1 → 600k
lineitem rows, 100k events); value domains are the uniform ones the
engine's queries filter on (``ASIA``, ``BUILDING``, ``purchase``, ...).

The same (seed, sf) always yields byte-identical values, so a run's
inputs are a pure function of its ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "new", "large", "hot", "cold", "blue", "old"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the spark line column order small sort fast value scan hash slow "
    "group batch agg filter query big key window row part table stream "
    "merge data vector customer join"
).split()

_DAY_US = 86_400 * 1_000_000


def _epoch_us(ymd: str) -> int:
    return int(np.datetime64(ymd, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = _epoch_us(start) // _DAY_US, _epoch_us(end) // _DAY_US
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _documents(rng: np.random.Generator, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # dedup inputs need duplicates: ~0.2% exact copies and ~2% near copies
    # (one word replaced), each of an earlier document
    for i in rng.choice(np.arange(1, n), size=max(1, n // 50), replace=False):
        src = texts[int(rng.integers(0, i))].split(" ")
        if rng.random() >= 0.1:
            src[int(rng.integers(0, len(src)))] = str(rng.choice(words))
        texts[i] = " ".join(src)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels.astype(np.int32),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(10, int(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    # 1..7 lines per order, numbered 1..n: (l_orderkey, l_linenumber) unique
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    n_li = len(l_order)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, n_li) * _DAY_US),
    })
    start, span = _epoch_us("2024-01-01"), 30 * _DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, span, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = pa.table(_documents(rng, n_docs))
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir: str, seed: int, sf: float, tables=TABLES) -> str:
    """Write ``tables`` for (seed, sf) under a fresh ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        if name in tables:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
