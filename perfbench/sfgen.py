"""Seeded star-schema + corpus tables for the query-mix workload.

``write_tables(out_dir, seed, scale)`` writes the ten tables the
``queries()`` registry reads (``<name>.parquet`` each) with the
column names and physical types of the reference test data, at
``scale`` times the TPC-H scale-factor-1 row counts (lineitem
~6M x scale). Value domains follow the reference test data too:
2-decimal money, ``Brand#k`` part brands, colour/adjective part
names, 30 days of events, a 30-word corpus vocabulary with a share
of near-duplicate documents, and unit-norm 64-d embeddings in ten
labelled clusters. Same (seed, scale) -> byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
NOUNS = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
NEAR_DUP_SHARE = 0.05
DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = 9131 * _US_PER_DAY  # 1995-01-01
_EPOCH_2024 = 19723 * _US_PER_DAY  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100


def _days(rng, first_day_us: int, n_days: int, n: int) -> pa.Array:
    us = first_day_us + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(100, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(200, round(200_000 * scale))
    n_orders = max(1_000, round(1_500_000 * scale))
    n_events = max(1_000, round(1_000_000 * scale))
    n_users = max(20, n_events // 66)
    n_docs = max(100, round(50_000 * scale))
    n_vecs = max(50, round(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    part = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, ADJECTIVES, n_part), _pick(rng, NOUNS, n_part)
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900 + (pk % 1000) / 10,
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": _money(rng, 1000, 500_000, n_orders),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n_orders),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    lines_per_order = rng.poisson(4.0, n_orders)
    n_lines = int(lines_per_order.sum())
    order_of_line = np.repeat(np.arange(n_orders), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(order_of_line, i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
            "l_linenumber": pa.array(np.arange(n_lines) - starts + 1, i32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100,
            "l_tax": rng.integers(0, 9, n_lines) / 100,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
            "l_linestatus": _pick(rng, ("F", "O"), n_lines),
            "l_shipdate": _days(rng, _EPOCH_1995 + _US_PER_DAY, 2499, n_lines),
        }
    )
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_events))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(60.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate of an earlier doc: a few tokens swapped
            # plus a marker token, so shingle-based dedup finds pairs
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 1 + len(toks) // 20):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks.append("dup")
        else:
            toks = list(_pick(rng, VOCAB, int(rng.integers(8, 100))))
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centroids = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
