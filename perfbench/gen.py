"""Seeded synthetic input tables for the benchmark.

The crawl corpus and the near-dup operators read a ``documents`` table
``(doc_id, text, lang, source, n_chars)`` and an ``embeddings`` table
``(vec_id, embedding: float[64], label)``. This module writes both as
parquet under a work directory, with the same shape as the project's sf0.1
test tables: texts are 10-100 words drawn from a 30-word vocabulary, a
``dup_frac`` share of documents (5% in the test tables) are an earlier
document's text plus the token ``dup`` (near-duplicate families), one in 25
of those again is an exact copy, and embeddings are random unit vectors. The same seed always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DIM = 64


def documents(n: int, seed: int, dup_frac: float = 0.05) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for d in range(n):
        u = rng.random()
        if d > 0 and u < dup_frac:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        elif d > 0 and u < dup_frac * 1.04:
            texts.append(texts[int(rng.integers(0, d))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{d % N_SOURCES}" for d in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def write_tables(
    out_dir: str, n_docs: int, n_emb: int, seed: int, dup_frac: float = 0.05
) -> str:
    """Write ``documents.parquet`` (and ``embeddings.parquet`` when
    ``n_emb`` > 0) into ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(n_docs, seed, dup_frac), os.path.join(out_dir, "documents.parquet"))
    if n_emb:
        pq.write_table(embeddings(n_emb, seed), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
