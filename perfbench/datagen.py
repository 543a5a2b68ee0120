"""Deterministic synthetic corpus for the benchmark.

Writes the ten parquet tables the engine reads (``sources.parquet.TABLES``)
with the same column names, physical types and value domains as the
engine's star-schema test corpus: a TPC-H-like relational core, an
``events`` click stream and a ``documents`` / ``embeddings`` text plane.
Row counts scale with ``sf`` the way that corpus does (``lineitem`` =
6,000,000 x sf).

The corpus depends only on ``sf`` and ``DATA_SEED``; the workload seed
never changes it, so one generated directory serves every run.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data filter fast group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    s = np.datetime64(start, "D").astype(np.int64)
    e = np.datetime64(end, "D").astype(np.int64)
    return int(s), int(e)


def _ts_us(day_numbers: np.ndarray) -> pa.Array:
    return pa.array(day_numbers.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _write(out: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out: str, sf: float) -> None:
    """Write the corpus at scale ``sf`` into directory ``out``."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 50)
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
    })
    d0, d1 = _days("1995-01-01", "2001-08-01")
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_us(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    s0, s1 = _days("1995-01-02", "2001-11-04")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts_us(rng.integers(s0, s1 + 1, n_line)),
    })
    e0, _ = _days("2024-01-01", "2024-01-01")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + e0 * _DAY_US
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:
            # a near-duplicate of an earlier document: one word swapped
            words = texts[i - 7].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def ensure(root: str, sf: float) -> str:
    """Return the corpus directory for ``sf`` under ``root``, generating
    it on first use (written to a sibling and renamed, so an interrupted
    generation never leaves a half-written corpus behind)."""
    out = os.path.join(root, f"sf{sf}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, sf)
    os.rename(tmp, out)
    return out
