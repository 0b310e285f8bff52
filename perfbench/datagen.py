"""Seeded synthetic tables for the query workloads.

Writes one parquet file per table, with the schemas, key ranges and value
domains of the engine's test tables (a TPC-H-like star schema plus
`events`, `documents` and `embeddings`). Row counts scale with `sf` the
same way: lineitem has 6,000,000 x sf rows. The same seed gives the same
bytes of data, so every run of a workload with one seed sees the same
inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
EMBED_DIM = 64
N_LABELS = 10


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, size=n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size=n)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), size=int(rng.integers(10, 101)))]))
    lang_p = np.array([0.40, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, size=n, p=lang_p)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n)
    vecs = 0.4 * centers[labels] + rng.normal(scale=EMBED_DIM**-0.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under `out_dir`; returns rows per table."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n = {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }
    users = max(10, int(15_000 * sf))
    i32, i64 = np.int32, np.int64
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"], dtype=i64)),
                "c_name": _names("Customer", n["customer"]),
                "c_nationkey": pa.array(rng.integers(0, 25, size=n["customer"]).astype(i32)),
                "c_acctbal": pa.array(_money(rng, n["customer"], -999.99, 9999.99)),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"], dtype=i64)),
                "s_name": _names("Supplier", n["supplier"]),
                "s_nationkey": pa.array(rng.integers(0, 25, size=n["supplier"]).astype(i32)),
                "s_acctbal": pa.array(_money(rng, n["supplier"], -999.99, 9999.99)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"], dtype=i64)),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, size=(n["part"], 2))],
                    pa.string(),
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n["part"])], pa.string()),
                "p_type": _pick(rng, PART_TYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, size=n["part"]).astype(i32)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"], dtype=i64)),
                "o_custkey": pa.array(rng.integers(0, n["customer"], size=n["orders"]).astype(i64)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
                "o_totalprice": pa.array(_money(rng, n["orders"], 1000.0, 500000.0)),
                "o_orderdate": pa.array(_days(rng, n["orders"], "1995-01-01", "2001-08-01")),
                "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], size=n["lineitem"]).astype(i64)),
                "l_partkey": pa.array(rng.integers(0, n["part"], size=n["lineitem"]).astype(i64)),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], size=n["lineitem"]).astype(i64)),
                "l_linenumber": pa.array(rng.integers(1, 8, size=n["lineitem"]).astype(i32)),
                "l_quantity": pa.array(rng.integers(1, 51, size=n["lineitem"]).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, n["lineitem"], 900.0, 105000.0)),
                "l_discount": pa.array(rng.integers(0, 11, size=n["lineitem"]) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, size=n["lineitem"]) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n["lineitem"]),
                "l_linestatus": _pick(rng, ("F", "O"), n["lineitem"]),
                "l_shipdate": pa.array(_days(rng, n["lineitem"], "1995-01-02", "2001-11-04")),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"], dtype=i64)),
                "ts": pa.array(
                    np.sort(
                        np.datetime64("2024-01-01", "us")
                        + rng.integers(0, 30 * 86_400_000_000, size=n["events"]).astype("timedelta64[us]")
                    )
                ),
                "user_id": pa.array(rng.integers(0, users, size=n["events"]).astype(i64)),
                "event_type": _pick(rng, EVENT_TYPES, n["events"]),
                "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, size=n["events"]), 2))),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n["events"])], pa.string()),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
