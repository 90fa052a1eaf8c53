"""Seeded synthetic inputs for the benchmark workloads.

Every table has the schema of the engine's fixture tables (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), and
value domains shaped like them, so the engine's query battery and its
DuckDB oracles run unchanged.  The same seed always gives the same
rows.  ``scale`` is the TPC-H-style scale factor: lineitem has
``6_000_000 * scale`` rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "small", "red", "hot", "old", "large", "green", "tiny"]
PART_NOUN = ["anvil", "widget", "plate", "ring", "rod", "bolt", "gizmo", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

#: o_orderdate / l_shipdate ranges of the fixture tables
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404
SHIP_EPOCH = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(epoch: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    return (epoch + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def orders(rng: np.random.Generator, n: int, n_cust: int, key0: int = 0) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(key0, key0 + n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _days(ORDER_EPOCH, rng.integers(0, ORDER_DAYS, n)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int
) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(SHIP_EPOCH, rng.integers(0, SHIP_DAYS, n)),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # candidate pairs
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten fixture-shaped tables at ``scale``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_li = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    return {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pk,
                "p_name": _pick(rng, names, n_part),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
            }
        ),
        "orders": orders(rng, n_ord, n_cust),
        "lineitem": lineitem(rng, n_li, n_ord, n_part, n_supp),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ev_ts,
                "user_id": rng.integers(0, max(150, n_cust // 10), n_ev, dtype=np.int64),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_doc),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` per table, the fixture directory layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
