"""Seeded generator for the ten corpus tables the engine reads.

The benchmark must not depend on data outside its checkout, so it
writes its own corpus from ``--seed``: same seed, byte-identical
tables. Shapes and value domains follow FIXTURES.md (TPC-H-ish star
schema, an ``events`` stream, ``documents`` and ``embeddings``): one
parquet file per table, one row group, naive microsecond timestamps.
Row counts scale linearly with ``sf`` from the sf0.1 sizes below;
``documents``/``embeddings`` keep FIXTURES.md's floor of 500 rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf0.1 (FIXTURES.md)
ROWS_AT_SF01 = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
_MIN_ROWS = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
EMB_LABELS = 10
# share of documents that are near-duplicates of an earlier one
NEAR_DUP_RATE = 0.01


def _rows(table: str, sf: float) -> int:
    return max(_MIN_ROWS.get(table, 1), int(round(ROWS_AT_SF01[table] * sf / 0.1)))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: _rows(t, sf) for t in ROWS_AT_SF01}
    ts_us = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        }
    )
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, k)]),
        }
    )
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": pa.array(np.array(names)[rng.integers(0, len(names), k)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, k)]),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) / 10, 1)),
        }
    )
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, k)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, k)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", k), ts_us),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, k)]),
        }
    )
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, k)),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, k)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, k)]),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", k), ts_us),
        }
    )
    k = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span_us, k))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, ts_us),
            "user_id": pa.array(rng.integers(0, max(15, k // 66), k), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, k)]),
            "value": pa.array(_money(rng, 0.0, 560.0, k)),
            "props": pa.array([json.dumps({"k": int(v)}) for v in rng.integers(0, 100, k)]),
        }
    )
    k = n["documents"]
    docs: list[list[str]] = []
    for _ in range(k):
        if docs and rng.random() < NEAR_DUP_RATE:
            words = list(docs[int(rng.integers(len(docs)))])
            for pos in rng.integers(0, len(words), max(1, len(words) // 30)):
                words[pos] = VOCAB[int(rng.integers(len(VOCAB)))]
        else:
            words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        docs.append(words)
    text = [" ".join(w) for w in docs]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(rng.choice(LANGS, k, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(k)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    k = n["embeddings"]
    centroids = rng.normal(0.0, 0.1, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, k)
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (k, EMB_DIM))).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_corpus(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables for (sf, seed) under ``out_dir`` as
    ``<table>.parquet`` and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in _tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
