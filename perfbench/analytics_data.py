"""Seeded analytics tables for the ``analytics`` workload.

The shapes and column types follow the engine's analytics fixtures (a
TPC-H-like star plus ``events``, ``documents`` and ``embeddings``, one
parquet file per table, timestamps without time zone), so
``__spark_entry__``'s queries and DuckDB oracles run on them unchanged.
Every value is drawn from ``numpy.random.default_rng(seed)``: the same seed
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# rows per table (about 0.01 of the TPC-H scale factor 1 sizes)
SIZES = {"events": 10_000, "orders": 15_000, "lineitem": 60_000,
         "documents": 500, "embeddings": 500, "customers": 1_500,
         "parts": 2_000, "suppliers": 100, "users": 150}
DIM = 64


def _ts(base: str, seconds) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _events(rng, sizes) -> pa.Table:
    n = sizes["events"]
    gaps = rng.exponential(259.0, n)  # ~30 days of events
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01T00:00:00", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, sizes["users"], n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.lognormal(3.4, 1.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _orders(rng, sizes) -> pa.Table:
    n = sizes["orders"]
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, sizes["customers"], n),
                              pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _ts("1995-01-01", days * 86400),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _lineitem(rng, sizes) -> pa.Table:
    n = sizes["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, sizes["orders"], n),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, sizes["parts"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sizes["suppliers"], n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n) * 86400),
    })


def _documents(rng, sizes) -> pa.Table:
    """Word-salad documents; one in twenty is a near-duplicate of an
    earlier one (its text plus " dup"), so the dedup queries find pairs."""
    n = sizes["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, sizes) -> pa.Table:
    """Unit vectors clustered around ten label centroids."""
    n = sizes["embeddings"]
    labels = rng.integers(0, 10, n)
    cents = rng.normal(0, 1, (10, DIM))
    m = cents[labels] + rng.normal(0, 1.2, (n, DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


TABLES = {"events": _events, "orders": _orders, "lineitem": _lineitem,
          "documents": _documents, "embeddings": _embeddings}


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts. Each table draws from its own generator stream, so a table's
    contents depend only on (seed, scale, table). ``scale`` shrinks every
    row count (the warm-up tables)."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for i, (name, fn) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, i])
        t = fn(rng, {k: max(20, int(v * scale)) for k, v in SIZES.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
