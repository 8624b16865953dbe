"""Seeded input tables in the schema of the repo's sf0.1 testdata.

The tables the workloads read mirror the testdata that `__spark_entry__`
queries and its DuckDB oracle SQL read (TESTDATA.md): the same columns,
types, row counts and value distributions, so every oracle query
applies unchanged.

* customer and supplier are keyed 0..n-1 exactly as in the testdata;
  their spatial coordinates derive from the key
  (`stark_spark.datasets`), so they do not vary by seed;
* events, documents and embeddings are drawn from the seed, with sizes
  fixed, so every seed gives the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200 * 1_000_000          # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000          # events cover 30 days

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
VOCAB = np.array("a agg batch big column customer data fast filter group "
                 "hash join key line merge order part query row scan slow "
                 "small sort spark stream table the value vector window"
                 .split())
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _events(rng: np.random.Generator, n: int) -> dict:
    ts = np.sort(rng.integers(0, SPAN_US, n)) + T0_US
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words texts of 10-100 tokens; 5% of the docs are copies
    of another doc with " dup" appended (the near-duplicates the dedup
    operators exist to find)."""
    lens = rng.integers(10, 101, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    dups = rng.choice(n, n // 20, replace=False)
    for d, src in zip(dups, rng.integers(0, n, len(dups))):
        texts[d] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def _dims(rng: np.random.Generator, out_dir: str) -> None:
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(15_000, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(15_000)]),
        "c_nationkey": pa.array(rng.integers(0, 25, 15_000, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 15_000), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, 15_000)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(1_000, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1_000)]),
        "s_nationkey": pa.array(rng.integers(0, 25, 1_000, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 1_000), 2))})


def generate(out_dir: str, seed: int, *, n_events: int, n_docs: int,
             n_vectors: int) -> None:
    """Write every input table for `seed` into `out_dir` as parquet."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _dims(rng, out_dir)
    _write(out_dir, "events", _events(rng, n_events))
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vectors))
