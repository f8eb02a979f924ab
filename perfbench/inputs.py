"""Seeded corpus generator: documents, events and embeddings tables
with the shapes and schemas of the program's sf-scaled test tables
(documents: doc_id, text, lang, source, n_chars; events: event_id, ts,
user_id, event_type, value, props; embeddings: vec_id, embedding
float[64], label). The same seed always gives the same tables."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
NEAR_DUP_SHARE = 0.05  # documents that repeat an earlier text + " dup"


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n)]
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=[0.41, 0.15, 0.15, 0.15, 0.14]).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centroids = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    v = centroids[label] + 0.8 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_corpus(out_dir: str, seed: int, n_docs: int, n_events: int, n_vecs: int) -> str:
    """Write documents/events/embeddings parquet files for ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (
        ("documents", documents(rng, n_docs)),
        ("events", events(rng, n_events)),
        ("embeddings", embeddings(rng, n_vecs)),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
