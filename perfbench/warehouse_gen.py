"""Seeded warehouse tables for the operator-mix workload.

Writes every table of ``graph_vulcan_assets_spark.tables.TABLES``, one
parquet file each, with the column names and types of the engine's table loader
(``graph_vulcan_assets_spark.tables``). Sizes scale with ``sf`` the way the
engine's scale factors do: at sf 0.1, 600k lineitem rows, 150k orders, 15k
customers, 1k suppliers, 20k parts, 100k events over 1.5k users, 5k documents and 2k
64-dimensional embeddings in 40 clusters.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIM, CLUSTERS = 64, 40


def _days(rng, start: datetime.datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_orders = max(1500, int(1_500_000 * sf))
    n_items = 4 * n_orders
    n_users = max(100, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    n_parts = max(200, int(200_000 * sf))
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_parts), i64),
        "p_name": [f"part {i}" for i in range(n_parts)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 10, n_parts)],
        "p_type": pa.array(np.array(["SMALL", "MEDIUM", "LARGE"])[rng.integers(0, 3, n_parts)]),
        "p_size": pa.array(rng.integers(1, 51, n_parts), i32),
        "p_retailprice": np.round(rng.uniform(900.0, 2000.0, n_parts), 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderdate": _days(rng, datetime.datetime(1995, 1, 1), 2400, n_orders),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_items), i64),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_items), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_items), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), i32),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_items)]),
        "l_shipdate": _days(rng, datetime.datetime(1995, 1, 2), 2500, n_items),
    })
    event_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": np.datetime64(datetime.datetime(2024, 1, 1), "us") + event_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.uniform(0.0, 100.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(WORDS)
    lengths = rng.integers(8, 100, n_docs)
    flat = words[rng.integers(0, len(WORDS), int(lengths.sum()))]
    texts = [" ".join(ws) for ws in np.split(flat, np.cumsum(lengths)[:-1])]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    centers = rng.normal(size=(CLUSTERS, DIM))
    labels = rng.integers(0, CLUSTERS, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels % 10, i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_parts, "orders": n_orders,
        "lineitem": n_items, "events": n_events, "documents": n_docs,
        "embeddings": n_vecs,
    }
