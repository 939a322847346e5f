"""Seeded input tables for the benchmark.

Writes the ten tables the engine's registry reads (a TPC-H-shaped star,
an ``events`` stream, ``documents`` and ``embeddings``) as one parquet
file each, shaped like the engine's seed-42 test tables: the same
column names and parquet types (dates and timestamps as
``timestamp[us]``) and, at sf=0.01, the same row counts and key
cardinalities. A column-by-column comparison with those tables at
sf0.01 (distinct count, min, max) finds the largest gaps in the
distinct count of ``p_retailprice`` (863 here, 1000 there) and in the
tails of ``s_acctbal`` and ``events.value``. The values are drawn
independently, so rows do not match. ``sf`` scales the fact and
dimension tables (sf=0.01 gives 60k lineitems); ``documents`` and
``embeddings`` stay at 500 rows, as in that data below sf0.1.

Same ``seed`` and ``sf`` -> byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

DAY_US = 86_400_000_000
N_DOCS = 500
N_EMB = 500
EMB_DIM = 64


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 60),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 600),
        "lineitem": max(int(6_000_000 * sf), 2400),
        "events": max(int(1_000_000 * sf), 1000),
    }


def _day_ts(rng, n: int, first: str, n_days: int) -> pa.Array:
    base = np.datetime64(first, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{ADJS[a]} {NOUNS[b]}"
                for a, b in zip(
                    rng.integers(0, len(ADJS), n["part"]),
                    rng.integers(0, len(NOUNS), n["part"]),
                )
            ],
            "p_brand": [f"Brand#{1 + int(i)}" for i in rng.integers(0, 25, n["part"])],
            "p_type": _pick(rng, PTYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n["part"]) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500_000.0),
            "o_orderdate": _day_ts(rng, n["orders"], "1995-01-01", 2404),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, n["lineitem"], 900.0, 105_000.0),
            "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) * 0.01, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _day_ts(rng, n["lineitem"], "1995-01-02", 2498),
        }),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _events(rng, n: int) -> pa.Table:
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(base + rng.integers(0, 30 * DAY_US, n), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": _pick(rng, ETYPES, n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 490.0) + 0.01, 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng) -> pa.Table:
    texts = [
        " ".join(_pick(rng, VOCAB, int(k)))
        for k in rng.integers(10, 100, N_DOCS)
    ]
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    emb = rng.normal(0.0, 1.0, (N_EMB, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array([v.tolist() for v in emb], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32()),
    })
