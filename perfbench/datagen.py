"""Deterministic synthetic input tables for the benchmark.

The tables have the schemas and value distributions of the engine's
scale-factor test data (`sources/tables.py:TABLES`), at the row counts of
scale factor 0.01:

- events: 10,000 events of 150 users over 30 days (~67 per user), sorted
  uniform timestamps, 5 equally likely event types, exponential `value`
  (mean 50) rounded to cents;
- documents: 500 texts of 10-100 words from a 30-word vocabulary, 5% of
  them an earlier text plus the word "dup"; 5 languages, 20 sources;
- embeddings: 2,000 unit-norm float32 vectors (the sf0.1 count), 64
  dimensions, 10 labels;
- orders: 15,000 orders of 1,500 customers; lineitem: 60,000 lines over
  those orders, 100 suppliers and 2,000 parts.

The content depends on `DATA_SEED` alone, so the correctness digests kept
with the benchmark stay valid; the workload seed only permutes and slices
the tables. See README.md for why the row counts are sf0.01's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 2_000
DIM = 64
N_ORDERS = 15_000
N_CUSTOMERS = 1_500
N_LINES = 60_000
N_SUPPLIERS = 100
N_PARTS = 2_000

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.145, 0.15, 0.145, 0.15)
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
TABLES = ("events", "documents", "embeddings", "orders", "lineitem")


def _ts(rng: np.random.Generator, n: int, start: str, days: int, sort: bool) -> pa.Array:
    us = rng.integers(0, days * 86400 * 10**6, n)
    if sort:
        us = np.sort(us)
    return pa.array(np.datetime64(start, "us") + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _cents(x: np.ndarray) -> pa.Array:
    return pa.array(np.round(x, 2), pa.float64())


def _events(rng: np.random.Generator) -> pa.Table:
    n = N_EVENTS
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(rng, n, "2024-01-01", 30, sort=True),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _cents(rng.exponential(50.0, n)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })


def _orders(rng: np.random.Generator) -> pa.Table:
    n = N_ORDERS
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n), pa.int64()),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, n, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINES
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, n)),
        "l_discount": _cents(rng.integers(0, 11, n) / 100.0),
        "l_tax": _cents(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, n, "1995-01-02", 2498),
    })


_MAKERS = {
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
    "orders": _orders,
    "lineitem": _lineitem,
}


def describe() -> str:
    return (f"perfbench.datagen seed={DATA_SEED} events={N_EVENTS} users={N_USERS} "
            f"documents={N_DOCS} embeddings={N_VECS}x{DIM} orders={N_ORDERS} "
            f"lineitem={N_LINES}")


def write_tables(out_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Write each table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([DATA_SEED, TABLES.index(name)])
        pq.write_table(_MAKERS[name](rng), os.path.join(out_dir, f"{name}.parquet"))
