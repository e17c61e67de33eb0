"""Seeded generator of the registry tables the `construct` workload reads.

Writes events.parquet, documents.parquet and embeddings.parquet with the
schemas and value domains of the synthetic test tables the registry entries
are written against (TESTDATA.md, FIXTURES.md section 6): an event stream
over 30 days of 2024 with five event types and a JSON `props` column, a
corpus of space-joined ASCII words from a 31-word vocabulary, and 64-dim
float embeddings in ten labelled clusters.

Usage: python3 tablegen.py <outDir> <seed> [events] [documents] [embeddings]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
DIM = 64
LABELS = 10


def events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]") + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(40.0, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n):
    centres = rng.normal(0.0, 1.0, (LABELS, DIM))
    labels = rng.integers(0, LABELS, n)
    v = centres[labels] + rng.normal(0.0, 0.8, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate(out_dir, seed, n_events=10000, n_docs=500, n_emb=500):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("events", events(rng, n_events)),
                        ("documents", documents(rng, n_docs)),
                        ("embeddings", embeddings(rng, n_emb))):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), *(int(x) for x in sys.argv[3:]))
