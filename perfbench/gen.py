"""Seeded input generator for the benchmark workloads.

Writes the ten tables the engine reads (``catalog.TABLES``) with the
schemas and value domains of the engine's test data: a TPC-H-like star
schema, an ``events`` stream, a ``documents`` corpus and an
``embeddings`` table. Each table is one parquet file with one row group,
like the test data, so ``catalog.spread()`` takes the same decisions as
on tested traffic.

The seed picks which customers exist (a subset of the full key space),
who placed each order, which parts each order holds, and every value.
Row counts depend only on the size, never on the seed, so the work per
pass is the same for every seed. The dimension tables (region, nation,
supplier, part) are whole and identical for every seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Key spaces and domains of the full-size fact tables the subsets are
# drawn from.
CUSTOMER_KEYS = 15_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
EVENT_USERS = 1_500
ORDERS_PER_CUSTOMER = 10
LINES_PER_ORDER = 4
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "chain", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(int)) + 1
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - SHIP_DAY0).astype(int)) + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Size:
    """Row counts of the seeded tables; the dimension tables are whole."""

    customers: int
    events: int
    documents: int
    embeddings: int

    @property
    def orders(self) -> int:
        return self.customers * ORDERS_PER_CUSTOMER

    @property
    def lineitems(self) -> int:
        return self.orders * LINES_PER_ORDER


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(1, table.num_rows),
        compression="snappy",
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dimensions(out_dir: str) -> None:
    rng = np.random.default_rng(0)
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    }))
    adj = rng.integers(0, len(PART_ADJ), N_PARTS)
    noun = rng.integers(0, len(PART_NOUN), N_PARTS)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(range(N_PARTS), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, len(PART_TYPES), N_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PARTS) % 1000) * 0.1, 1),
    }))


def _days(rng: np.random.Generator, day0: np.datetime64, days: int, n: int) -> np.ndarray:
    return (day0 + rng.integers(0, days, n)).astype("datetime64[us]")


def _facts(out_dir: str, rng: np.random.Generator, size: Size) -> None:
    custkeys = np.sort(rng.choice(CUSTOMER_KEYS, size.customers, replace=False))
    n = size.customers
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(custkeys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in custkeys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[s] for s in rng.integers(0, 5, n)],
    }))
    n_orders = size.orders
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.choice(custkeys, n_orders), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[s] for s in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(_days(rng, ORDER_DAY0, ORDER_DAYS, n_orders), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_orders)],
    }))
    n_lines = size.lineitems
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [("N", "R", "A")[f] for f in rng.integers(0, 3, n_lines)],
        "l_linestatus": [("F", "O")[f] for f in rng.integers(0, 2, n_lines)],
        "l_shipdate": pa.array(_days(rng, SHIP_DAY0, SHIP_DAYS, n_lines), pa.timestamp("us")),
    }))


def _events(out_dir: str, rng: np.random.Generator, n: int) -> None:
    ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n)).astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }))


def _documents(out_dir: str, rng: np.random.Generator, n: int) -> None:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))


def _embeddings(out_dir: str, rng: np.random.Generator, n: int) -> None:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }))


def generate(out_dir: str, seed: int, size: Size) -> None:
    """Write every table for (seed, size) into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _dimensions(out_dir)
    _facts(out_dir, rng, size)
    _events(out_dir, rng, size.events)
    _documents(out_dir, rng, size.documents)
    _embeddings(out_dir, rng, size.embeddings)
