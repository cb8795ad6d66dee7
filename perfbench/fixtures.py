"""Seeded inputs for the benchmark workloads. The same seed always gives
the same inputs; nothing here touches Spark."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def write_batch_ticks(path: str, seed: int, n: int, n_symbols: int) -> pa.Table:
    """``n`` ticks round-robin over ``n_symbols`` symbols, one random
    walk per symbol, strictly increasing tie-free timestamps; written
    as one Parquet file under ``path``."""
    rng = np.random.default_rng(seed)
    sym = np.arange(n) % n_symbols
    steps = 1.0 + (rng.random(n) - 0.5) * 0.5 / 100
    price = np.empty(n)
    for s in range(n_symbols):
        m = sym == s
        price[m] = np.round(180.0 * np.cumprod(steps[m]), 2)
    start_us = int(TICK_EPOCH.timestamp() * 1_000_000)
    names = np.array([f"S{i:03d}" for i in range(n_symbols)])
    tbl = pa.table({
        "symbol": pa.array(names[sym]),
        "timestamp": pa.array(start_us + np.arange(n, dtype=np.int64) * 100_000, pa.timestamp("us", tz="UTC")),
        "price": pa.array(price),
        "volume": pa.array(rng.integers(100000, 500001, n)),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "ticks.parquet"))
    return tbl


def write_orders(sf_dir: str, seed: int, sf: float) -> int:
    """The ``orders`` table the registered queries read, at scale factor
    ``sf`` (TPC-H-like, 1.5M·sf rows, 10 orders per customer on average), as
    ``<sf_dir>/orders.parquet``; returns the row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n = int(round(1_500_000 * sf))
    day0 = np.datetime64("1995-01-01", "us")
    n_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)) + 1
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n)),
        "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(day0 + rng.integers(0, n_days, n).astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                                    [rng.integers(0, 5, n)]),
    }), os.path.join(sf_dir, "orders.parquet"))
    return n


_WORDS = np.array("a agg batch big column customer data fast filter group hash join key line merge order part "
                  "query row scan slow small sort spark stream table the value vector window".split())


def write_documents(sf_dir: str, seed: int, n: int) -> int:
    """The ``documents`` table: word-soup texts of 10–100 words, one in
    twenty a near-duplicate of an earlier text (`` dup`` appended), one in
    fifty an exact copy; as ``<sf_dir>/documents.parquet``."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.07:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))]))
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(sf_dir, "documents.parquet"))
    return n


def write_embeddings(sf_dir: str, seed: int, n: int, dim: int = 64) -> int:
    """The ``embeddings`` table: random unit float32 vectors of ``dim``
    dimensions, one in ten a small perturbation of an earlier one, with a
    random label in 0..9; as ``<sf_dir>/embeddings.parquet``."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim))
    for i in np.flatnonzero(rng.random(n) < 0.1):
        if i > 0:
            x[i] = x[rng.integers(0, i)] / np.sqrt(dim) * 8 + rng.standard_normal(dim) * 0.3
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }), os.path.join(sf_dir, "embeddings.parquet"))
    return n
