"""Seeded generator for the benchmark's input tables.

Writes the ten tables the package reads (``sources.registry.TABLES``), one
parquet file each, with the column names, types and value shapes of the
repository's fixture data (TESTDATA.md): a TPC-H-like star schema, an
``events`` telemetry stream, a ``documents`` corpus with planted near- and
exact duplicates, and unit-norm ``embeddings``, at the sf0.1 row counts
below. The same seed always gives byte-identical values, so every
statement's DuckDB oracle result is a function of the seed alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf0.1
_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10
# share of documents that are a copy of another document plus " dup"
NEAR_DUP_SHARE = 0.05
EXACT_DUP_DOCS = 8

_EPOCH_DAY0 = np.datetime64("1995-01-01", "us")
_EVENTS_T0 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return _EPOCH_DAY0 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def doc_text(rng, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS, n_words))


def make_documents(rng, n: int) -> pa.Table:
    """Corpus of ``n`` docs: random word strings, ``NEAR_DUP_SHARE`` of
    them a copy of an earlier doc with ``" dup"`` appended, and a few exact
    repeats."""
    texts = [doc_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    n_near = int(n * NEAR_DUP_SHARE)
    if n > 1:
        for i in rng.choice(np.arange(1, n), min(n_near, n - 1), replace=False):
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        for i in rng.choice(np.arange(1, n), min(EXACT_DUP_DOCS, n - 1), replace=False):
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_events(rng, n: int, first_id: int = 0, t0=_EVENTS_T0, days: int = 30,
                n_users: int = 1500) -> pa.Table:
    """Telemetry rows with ``event_id`` in time order."""
    ts = np.sort(t0 + rng.integers(0, days * _DAY_US, n).astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nc, ns, np_, no, nl = (_ROWS[t] for t in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(_ADJ, np_), rng.choice(_NOUN, np_))], pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)], pa.string()),
            "p_type": pa.array(rng.choice(_PTYPES, np_), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(_days(rng, 0, 2404, no), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(_PRIOS, no), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
            "l_shipdate": pa.array(_days(rng, 1, 2499, nl), pa.timestamp("us")),
        }),
        "events": make_events(rng, _ROWS["events"]),
        "documents": make_documents(rng, _ROWS["documents"]),
    }
    ne = _ROWS["embeddings"]
    labels = rng.integers(0, N_LABELS, ne)
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = rng.normal(size=(ne, EMBED_DIM)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

