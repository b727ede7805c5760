"""Seeded sf0.1-shaped tables for the headline queries.

Writes ``lineitem``, ``orders``, ``events``, ``documents`` and
``embeddings`` as single parquet files named like the TPC-H-ish test data
the headline queries read (``<dir>/<table>.parquet``), with the same
columns, types, key ranges and row counts at scale factor 0.1:

- lineitem: 1-7 lines per order, integral quantities, 2-decimal prices;
- orders: one row per order key;
- events: 100k events of 1.5k users, time-ordered over January 2024;
- documents: 5k texts over a 30-word vocabulary, with near-duplicates
  (a copy of another document plus one token) and a few exact duplicates;
- embeddings: 2k unit vectors of dimension 64 around 10 labelled centres.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def generate(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """Write the tables; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = int(50_000 * scale)
    n_vecs = int(20_000 * scale)

    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, int(200_000 * scale), n_li),
        "l_suppkey": rng.integers(0, int(10_000 * scale), n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    }
    # shuffled row order, as in the reference test data
    perm = rng.permutation(n_li)
    lineitem = {k: v[perm] for k, v in lineitem.items()}

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = {
        "o_orderkey": np.arange(n_orders),
        "o_custkey": rng.integers(0, int(150_000 * scale), n_orders),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, n_orders, 1000, 500_000),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_orders)],
    }

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = np.maximum(1, rng.exponential(26e6, n_events).astype(np.int64))
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    events = {
        "event_id": np.arange(n_events),
        "ts": (t0 + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": kinds[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }

    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):  # near-duplicates
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):  # exact
        texts[i] = texts[int(rng.integers(0, n_docs))]
    langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
    documents = {
        "doc_id": np.arange(n_docs),
        "text": np.array(texts, dtype=object),
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    centres = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vecs).astype(np.int32)
    vec = 0.6 * centres[label] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })

    out = {}
    for name, cols in [("lineitem", lineitem), ("orders", orders),
                       ("events", events), ("documents", documents)]:
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = tbl.num_rows
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    out["embeddings"] = embeddings.num_rows
    return out
