"""Seeded input generator for the pipeline benchmark.

Writes tables shaped like the driver's sf0.1 fixture (FIXTURES.md §6) so
the benchmark needs nothing outside its checkout:

  * events     — 100k rows over 30 days: event_id, ts (µs), user_id,
                 event_type (5 values), value (exponential, mean 50,
                 2 decimals), props ('{"k": n}'). Every row carries both
                 a value and props, so every event is a tweet AND a
                 price tick in the speed layer's role split.
  * documents  — 5k word-soup docs over the fixture's 30-word vocabulary
                 (+ a rare 'dup' token), 10-100 words, 5 langs, 20
                 sources, a few exact duplicates.
  * embeddings — 2k random 64-dim unit vectors (vec_id == doc_id).

Only numpy and pyarrow: no Spark session is needed to build inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
EMB_DIM = 64
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000         # 30 days
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def events_table(seed: int) -> pa.Table:
    rng, n = np.random.default_rng(seed), N_EVENTS
    ts = np.sort(rng.integers(0, SPAN_US, n)) + EPOCH_US
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def documents_table(seed: int) -> pa.Table:
    rng, n = np.random.default_rng(seed + 1), N_DOCS
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i % 600 == 599:          # exact copy of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = list(vocab[rng.integers(0, len(vocab),
                                        int(rng.integers(10, 101)))])
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings_table(seed: int) -> pa.Table:
    rng, n = np.random.default_rng(seed + 2), N_VECS
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_table(sf_dir: str, name: str, table: pa.Table) -> None:
    """Write `<sf_dir>/<name>.parquet`, the layout catalog.load reads."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
