"""Seeded training-ops corpus in the driver testdata's table shapes.

`documents(doc_id long, text, lang, source, n_chars long)` and
`embeddings(vec_id long, embedding array<float>, label int)` with the
same statistics as the testdata tables the driver queries are written
for: 30 uniformly drawn vocabulary words per slot, 10-100 words a
document, one document in twenty a copy of an earlier one with a trailing
" dup", sources assigned round-robin over twenty, and unit-norm random
64-dimension embeddings with ten labels. Everything is a function of the
seed, so the benchmark never reads data from outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMB_DIM = 64


def make_tables(seed: int, n_docs: int, n_vecs: int):
    """(documents, embeddings) as pyarrow tables; doc ids stay below
    10000 because the dedup queries offset copies by +10000/+20000."""
    if not 0 < n_docs <= 10_000:
        raise ValueError(f"n_docs must be in 1..10000, got {n_docs}")
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, n)))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return docs, emb


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    docs, emb = make_tables(seed, n_docs, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
