"""Seeded synthetic input tables for the ``queries`` workload.

Writes ``documents``, ``embeddings`` and ``events`` parquet files with
the schemas and value shapes of the analytics fixtures the declared
queries read (see FIXTURES.md). ``scale`` follows the fixtures' scale
factor; the benchmark runs at 0.01, which gives 500 documents, 200
embeddings and 10,000 events. The same seed and scale
always give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark stream batch table row column key value query scan sort "
    "hash join merge group agg filter window order part line customer "
    "vector data fast slow big small"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TABLES = ("documents", "embeddings", "events")
DIM = 64
N_LABELS = 10


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 96))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # a few exact copies and one-word edits, so the dedup and near-dup
    # operators have real pairs to find
    for i in rng.choice(n, size=max(2, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, size=max(2, n // 100), replace=False):
        words = texts[int(rng.integers(0, n))].split()
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * DIM, DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, max(50, int(50_000 * scale))),
        "embeddings": _embeddings(rng, max(20, int(20_000 * scale))),
        "events": _events(rng, max(1000, int(1_000_000 * scale)), max(15, int(15_000 * scale))),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
