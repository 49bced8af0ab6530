"""Seeded input tables for the jsoniq workload: the six tables the
read-only JSONiq registry queries read, at the row counts and value
domains of the sf0.01 test tables, written as one parquet file each
with numpy and pyarrow."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF001_ROWS = {
    "events": 10_000,
    "documents": 500,
    "orders": 15_000,
    "customer": 1_500,
    "embeddings": 500,
    "lineitem": 60_000,
}
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = (
    "key agg row scan slow fast table value part hash batch window spark "
    "order data column join small line customer query mer a the of"
).split()
EMBED_DIM = 64


def _ts(rng, n: int, lo: datetime, hi: datetime) -> pa.Array:
    lo_us, hi_us = (int(t.replace(tzinfo=timezone.utc).timestamp() * 1e6) for t in (lo, hi))
    us = rng.integers(lo_us, hi_us, n)
    return pa.array(np.sort(us), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def jsoniq_tables(out_dir: str, seed: int) -> dict[str, str]:
    """Write the tables; returns name → parquet path."""
    rng = np.random.default_rng(seed)
    n = SF001_ROWS
    choice = lambda vals, k: pa.array(np.asarray(vals)[rng.integers(0, len(vals), k)])  # noqa: E731
    tables = {}

    k = n["events"]
    tables["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": _ts(rng, k, datetime(2024, 1, 1), datetime(2024, 1, 31)),
            "user_id": rng.integers(0, 150, k),
            "event_type": choice(EVENT_TYPES, k),
            "value": _money(rng, k, 0.01, 490.0),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        }
    )

    k = n["documents"]
    texts = [
        " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
        for _ in range(k)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(k, dtype=np.int64),
            "text": pa.array(texts),
            "lang": choice(LANGS, k),
            "source": pa.array([f"src{i % 20}" for i in rng.permutation(k)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    k, kc = n["orders"], n["customer"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, kc, k),
            "o_orderstatus": choice(("F", "O", "P"), k),
            "o_totalprice": _money(rng, k, 1000.0, 500000.0),
            "o_orderdate": _ts(rng, k, datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": choice(PRIORITIES, k),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(kc, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(kc)]),
            "c_nationkey": rng.integers(0, 25, kc).astype(np.int32),
            "c_acctbal": _money(rng, kc, -999.0, 9999.0),
            "c_mktsegment": choice(SEGMENTS, kc),
        }
    )

    k = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (k, EMBED_DIM)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, k).astype(np.int32),
        }
    )

    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": np.sort(rng.integers(0, n["orders"], k)),
            "l_partkey": rng.integers(0, 2000, k),
            "l_suppkey": rng.integers(0, 100, k),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, k), 2),
            "l_discount": np.round(rng.integers(0, 11, k) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, k) / 100, 2),
            "l_returnflag": choice(("A", "N", "R"), k),
            "l_linestatus": choice(("O", "F"), k),
            "l_shipdate": _ts(rng, k, datetime(1995, 1, 1), datetime(2001, 12, 1)),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
