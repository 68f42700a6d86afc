"""Seeded generator for the benchmark's landed tables.

Writes the ten tables the engine reads (``<name>.parquet``, one file with one
row group each, as a landing delivers them) with the same schemas, key
domains and value distributions as the engine's TPC-H-ish test data at
scale factor 0.01. The same seed always gives the same bytes; a different
seed gives different values at identical row counts, so every seed yields
the same storage layout, job, stage and task counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
ROWS = {
    "customer": int(150_000 * SF),
    "supplier": int(10_000 * SF),
    "part": int(200_000 * SF),
    "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
    "events": int(1_000_000 * SF),
    "documents": int(50_000 * SF),
    "embeddings": int(50_000 * SF),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
EVENT_USERS = 150


def _days(start: str, n_days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + n_days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed: int) -> dict[str, pa.Table]:
    """Build every table in memory from ``seed``."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    n = ROWS["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )

    n = ROWS["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )

    n = ROWS["part"]
    adj = rng.integers(0, len(PART_ADJ), n)
    noun = rng.integers(0, len(PART_NOUN), n)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), i64),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)
            ),
        }
    )

    n = ROWS["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )

    n = ROWS["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n)),
        }
    )

    n = ROWS["events"]
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), i64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n), i64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )

    n = ROWS["documents"]
    texts = [
        " ".join(np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, n)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), i64),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), i32),
        }
    )
    return out


def write_landing(out_dir: str, seed: int) -> int:
    """Write every table under ``out_dir``; returns the landed byte count."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
