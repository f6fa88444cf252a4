"""Seeded generator for the engine's fixture tables.

Writes the ten parquet tables the registry queries read (schemas as in
FIXTURES.md section 2) at a chosen scale factor. The data seed is fixed
(``DATA_SEED``), independent of the workload seed, so the frozen
per-query fingerprints in ``pools.json`` stay valid for every run; the
workload seed only draws which queries run, in which order, and the
loan-model inputs.

Distributions follow the profile of the reference fixtures: uniform
foreign keys, 2-dp money, day-grained order/ship dates, events spread
over 30 days with a JSON ``props`` column, a 31-word document
vocabulary with ~5% near-duplicate documents, and unit-norm 64-d
embeddings with ten labels.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf0.01 -> 60k lineitem)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })

    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })

    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype(np.int64)
    ts = _EPOCH_2024 + np.cumsum(np.maximum(gaps, 1))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(nv, 64)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def generate(sf_dir: str, sf: float) -> dict[str, int]:
    """Write every table as ``<sf_dir>/<table>.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
