"""Synthetic tables for the analytics workload.

Writes the five tables the headline queries read (documents, embeddings,
events, lineitem, orders) as one-row-group parquet files with the same
schemas and value shapes as the project's sf test tables, so the
queries and their DuckDB oracles run unchanged. ``scale=1`` has the row
counts of sf0.01. The tables are a pure function of ``seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

# rows per table at scale=1 (the sf0.01 sizes)
ROWS = {
    "documents": 500,
    "embeddings": 500,
    "events": 10_000,
    "orders": 15_000,
    "lineitem": 60_000,
}
N_USERS = 150
N_CUSTOMERS = 1_500
EMBED_DIM = 64


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offsets_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": [
            ("view", "click", "purchase", "signup", "error")[j]
            for j in rng.integers(0, 5, n)
        ],
        "value": _cents(rng, 0.01, 490.0, n),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
    })


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _dates(rng, n, "1995-01-01", 2404),
        "o_orderpriority": [prio[j] for j in rng.integers(0, 5, n)],
    })


def lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n, "1995-01-02", 2498),
    })


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    rows = {name: max(1, int(n * scale)) for name, n in ROWS.items()}
    tables = {
        "documents": documents(rng, rows["documents"]),
        "embeddings": embeddings(rng, rows["embeddings"]),
        "events": events(rng, rows["events"]),
        "orders": orders(rng, rows["orders"]),
        "lineitem": lineitem(rng, rows["lineitem"], rows["orders"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows)
    return rows
