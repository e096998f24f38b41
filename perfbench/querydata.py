"""Seeded input tables for the ``operator_queries`` workload.

The 17 headline queries read four of the driver tables: ``orders``,
``customer``, ``documents`` and ``embeddings``. This module writes them
with the column names, types and value distributions of the TPC-H-ish
driver tables, so the queries and their DuckDB oracles run unchanged:

- ``orders`` / ``customer``: uniform keys, prices and dates;
- ``documents``: 10-100 words from a 30-word vocabulary, 5% of them a
  copy of another document plus the token ``dup`` (the near-duplicate
  pairs the dedup queries look for);
- ``embeddings``: 64-d unit vectors loosely around one centre per label.

``sf`` scales the row counts the way the driver tables do: 1,500,000
orders, 150,000 customers, 50,000 documents and 20,000 embeddings per
unit of sf, with at least 500 documents and 500 embeddings. The same
(seed, sf) gives the same bytes. ``README.md`` compares the sf 0.01
tables with the driver's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
TABLES = ("orders", "customer", "documents", "embeddings")


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    day0 = np.datetime64("1995-01-01", "D")
    days = int((np.datetime64("2001-08-01", "D") - day0).astype(int))
    dates = (day0 + rng.integers(0, days + 1, n)).astype("datetime64[us]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n)),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n)),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         int(rng.integers(10, 101)))])
             for _ in range(n)]
    dups = rng.choice(n, n // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, dim))
    # the driver tables' clusters are loose: two vectors of one label have
    # a mean cosine of about 0.02
    vecs = centres[labels] + 7.0 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the four tables as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    tables = {
        "orders": _orders(rng, max(int(1_500_000 * sf), 100), n_cust),
        "customer": _customer(rng, n_cust),
        "documents": _documents(rng, max(int(50_000 * sf), 500)),
        "embeddings": _embeddings(rng, max(int(20_000 * sf), 500)),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
