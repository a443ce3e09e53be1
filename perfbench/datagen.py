"""Seeded synthetic tables for the ``catalog_mix`` queries.

The catalog entries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``, one Parquet file per table in one
directory.  This module writes such a directory from a seed with numpy
and pyarrow, at the row counts of scale factor 0.01.  The same seed
always writes the same bytes of data, so result digests can be pinned.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
EMBED_DIM = 64
_WORDS = (
    "join hash row batch scan column customer filter small slow merge vector "
    "order line table data agg value key stream window spark a part group big "
    "sort query fast the"
).split()
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86400 * 10**6).astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    parts = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, parts),
                                               rng.choice(_PART_NOUN, parts))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
        "p_type": rng.choice(_PART_TYPES, parts),
        "p_size": rng.integers(1, 51, parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2),
    })
    orders = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], orders).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], orders),
        "o_totalprice": _money(rng, orders, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, orders, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, orders),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    flags = rng.integers(0, 6, li)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, orders, li).astype(np.int64),
        "l_partkey": rng.integers(0, parts, li).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["F", "O"])[flags // 3],
        "l_shipdate": pa.array(_days(rng, li, "1995-01-02", 2498), pa.timestamp("us")),
    })
    ev = n["events"]
    gaps = rng.exponential(30 * 86400 / ev, ev)
    ts_us = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ev),
        "value": np.maximum(np.round(rng.lognormal(3.5, 1.0, ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    docs = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, rng.integers(8, 90))) for _ in range(docs)]
    # ~5% near-duplicates: a copy of an earlier document with one word
    # swapped for the marker "dup"
    for i in rng.choice(np.arange(1, docs), docs // 20, replace=False):
        words = texts[rng.integers(0, i)].split()
        words[rng.integers(0, len(words))] = "dup"
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + 3.0 * rng.normal(size=(m, EMBED_DIM))
    # ~5% near-duplicates of an earlier vector
    for i in rng.choice(np.arange(1, m), m // 20, replace=False):
        vecs[i] = vecs[rng.integers(0, i)] + 0.01 * rng.normal(size=EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write(directory: str, seed: int) -> str:
    """Write every table as ``<directory>/<name>.parquet``; return the
    directory."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return directory
