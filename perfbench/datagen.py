"""Seeded synthetic tables in the shape of the engine's testdata.

Writes the ten tables the query catalog reads (``catalog.TABLES``) as one
parquet file each, with the column names, types and value domains of the
testdata described in ``TESTDATA.md``/``FIXTURES.md``: a TPC-H-like star
schema, an ``events`` stream, a ``documents`` corpus with ~5% near-duplicate
copies, and 64-dimensional unit ``embeddings`` with ten weak clusters.

Row counts follow the testdata's scale factor rule (lineitem 6M x sf,
documents and embeddings at least 500). The same (sf, seed) always gives
the same tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "new", "large", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["view", "click", "signup", "purchase", "error"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = int((datetime(1995, 1, 1) - datetime(1970, 1, 1)).total_seconds() * 1e6)
_EPOCH_2024 = int((datetime(2024, 1, 1) - datetime(1970, 1, 1)).total_seconds() * 1e6)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype("int32")
    vecs = 0.15 * centers[labels] + rng.normal(scale=dim**-0.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": labels,
    }


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables for scale factor *sf*, deterministic in *seed*."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out: dict[str, dict] = {}
    out["region"] = {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }
    out["customer"] = {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    }
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype="int64")
    out["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }
    order_day = rng.integers(0, 2404, n_ord)
    out["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("P", "F", "O")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    }
    l_order = rng.integers(0, n_ord, n_line)
    out["lineitem"] = {
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("R", "A", "N")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(
            _EPOCH_1995
            + (order_day[l_order] + rng.integers(1, 96, n_line)) * _DAY_US
        ),
    }
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * _DAY_US
    offs = np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)
    out["events"] = {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + offs.astype("int64")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": [_EVENTS[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    }
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return {name: pa.table(cols) for name, cols in out.items()}


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under *out_dir*; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
