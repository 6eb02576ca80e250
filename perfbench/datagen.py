"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the query registry reads (one parquet file
each, the schemas of ``FIXTURES.md``) into a directory the benchmark
owns, so a run reads nothing outside its checkout. Row counts match
the sf0.01 fixture: 60k lineitem, 15k orders, 500 documents, 500
embeddings, 10k events. The value distributions follow the fixture
too: TPC-H-ish key domains and dates, a 31-word document vocabulary
with 5% near-duplicate documents (a copy of an earlier text plus
``" dup"``), and ten unit-norm embedding clusters.

The tables depend only on ``seed``; the benchmark passes a fixed
seed, so every workload seed runs on the same data and the workload
seed only reorders queries and draws service requests.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table value vector window"
).split()
EMBED_DIM = 64
N_CLUSTERS = 10
DUP_FRAC = 0.05


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"))


def _days(start: dt.date, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every table as an Arrow table; a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    keys = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(P_ADJ, n["part"]), rng.choice(P_NOUN, n["part"]))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(P_TYPES, n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    order_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(
            dt.date(1995, 1, 1), rng.integers(0, order_days + 1, n["orders"])
        ),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
    })
    m = n["lineitem"]
    ship_days = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    qty = rng.integers(1, 51, m).astype(float)
    flags = rng.integers(0, 6, m)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[f // 2] for f in flags],
        "l_linestatus": [("O", "F")[f % 2] for f in flags],
        "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, ship_days + 1, m)),
    })
    e = n["events"]
    gaps = rng.exponential(259.0, e)
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e).tolist(),
        "value": _money(rng, 0.01, 490.0, e),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_FRAC:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 90)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, N_CLUSTERS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
