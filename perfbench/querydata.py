"""Seeded generator for the query-mix inputs: the ten tables the
registry queries read (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), written as one parquet file each
with the same column names and types as the engine's reference data.

``scale`` 1.0 gives 150 customers, 1,500 orders, ~6,000 line items and
1,000 events; documents and embeddings stay at 500 rows, as in the
smallest reference scale. The same seed gives the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from tests.oracle_util import TABLES

VOCAB = (
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part",
    "group", "big", "sort", "query", "fast", "the",
)
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
ADJ = ("small", "red", "blue", "hot", "old", "large", "cold")
NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "zh", "es", "de", "fr")


def _write(path: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), path)


def _days(rng, n, start, end):
    span = (end - start).days
    return [start + dt.timedelta(days=int(d)) for d in rng.integers(0, span, n)]


def generate_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every table in
    :data:`TABLES`; returns the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(20, int(200 * scale))
    n_ord = max(100, int(1500 * scale))
    n_ev = max(200, int(1000 * scale))
    n_doc, n_emb = 500, 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    counts = {}

    def put(name, cols, fields):
        _write(os.path.join(out_dir, f"{name}.parquet"), cols, pa.schema(fields))
        counts[name] = len(next(iter(cols.values())))

    put("region",
        {"r_regionkey": list(range(5)),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        [("r_regionkey", i32), ("r_name", s)])
    put("nation",
        {"n_nationkey": list(range(25)), "n_name": [f"NATION_{k}" for k in range(25)],
         "n_regionkey": [k % 5 for k in range(25)]},
        [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    put("customer",
        {"c_custkey": np.arange(n_cust),
         "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
         "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
         "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
         "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
         ("c_acctbal", f64), ("c_mktsegment", s)])
    put("supplier",
        {"s_suppkey": np.arange(n_supp),
         "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
         "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
         "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    put("part",
        {"p_partkey": np.arange(n_part),
         "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                               rng.choice(NOUN, n_part))],
         "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
         "p_type": rng.choice(PART_TYPES, n_part),
         "p_size": rng.integers(1, 51, n_part).astype(np.int32),
         "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)},
        [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
         ("p_size", i32), ("p_retailprice", f64)])
    put("orders",
        {"o_orderkey": np.arange(n_ord),
         "o_custkey": rng.integers(0, n_cust, n_ord),
         "o_orderstatus": rng.choice(("P", "O", "F"), n_ord),
         "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
         "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1),
                              dt.datetime(2001, 8, 2)),
         "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
         ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)])
    lines = np.clip(rng.poisson(4.0, n_ord), 0, 13)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem",
        {"l_orderkey": np.repeat(np.arange(n_ord), lines),
         "l_partkey": rng.integers(0, n_part, n_li),
         "l_suppkey": rng.integers(0, n_supp, n_li),
         "l_linenumber": np.concatenate(
             [np.arange(1, k + 1) for k in lines if k] or [np.zeros(0)]
         ).astype(np.int32),
         "l_quantity": qty,
         "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_li), 2),
         "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
         "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
         "l_returnflag": rng.choice(("R", "A", "N"), n_li),
         "l_linestatus": rng.choice(("O", "F"), n_li),
         "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2),
                             dt.datetime(2001, 11, 5))},
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
         ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
         ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
         ("l_linestatus", s), ("l_shipdate", ts)])
    gaps_us = rng.exponential(259e6, n_ev).astype(np.int64) + 1
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    put("events",
        {"event_id": np.arange(n_ev),
         "ts": pa.array(t0 + np.cumsum(gaps_us), type=ts),
         "user_id": rng.integers(0, max(5, n_ev // 67), n_ev),
         "event_type": rng.choice(EVENT_TYPES, n_ev),
         "value": np.round(rng.exponential(50.0, n_ev), 2),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
         ("value", f64), ("props", s)])
    texts = []
    for k in range(n_doc):
        if k > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    put("documents",
        {"doc_id": np.arange(n_doc), "text": texts,
         "lang": rng.choice(LANGS, n_doc, p=(0.44, 0.14, 0.14, 0.14, 0.14)),
         "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    vec = rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings",
        {"vec_id": np.arange(n_emb), "embedding": list(vec),
         "label": rng.integers(0, 10, n_emb).astype(np.int32)},
        [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
    return counts
