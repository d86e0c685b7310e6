"""Seeded input table for the benchmark.

The engine's page generator (``frontier.synth``) derives pages from a
``documents`` table; this module makes that table from the workload
seed, so a run needs nothing outside its checkout. Same seed, same
bytes.

Shape follows the engine's fixture tables: a 31-word vocabulary, 10-100
tokens per document, five languages, ~1 % exact and ~3 % near
duplicates (one word swapped) planted, so that dedup and the near-dup
candidate stage see work even on a few hundred documents. The ``embeddings`` table (one 64-dim vector per
document, keyed ``vec_id`` = ``doc_id``) draws vectors around ten label
centroids and plants ~3 % near-copies, so the semantic-dedup gate bites.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("small vector key join customer stream filter table window "
         "scan column data batch part spark line order sort fast "
         "value a hash slow group agg query big row merge the "
         "dup").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed % (1 << 63), 1])
    lens = rng.integers(10, 101, size=n_docs)
    draws = rng.random(n_docs)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    words = np.array(VOCAB[:-1])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and draws[i] < 0.01:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and draws[i] < 0.04:
            base = texts[rng.integers(0, i)].split()
            base[rng.integers(0, len(base))] = VOCAB[
                rng.integers(0, len(VOCAB))]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     size=lens[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in langs], pa.string()),
    })


def embeddings(seed: int, n_docs: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([seed % (1 << 63), 2])
    labels = rng.integers(0, 10, size=n_docs)
    centroids = rng.normal(0.0, 1.0, size=(10, dim))
    vecs = 0.25 * centroids[labels] + rng.normal(0.0, 1.0,
                                                 size=(n_docs, dim))
    for i in np.flatnonzero(rng.random(n_docs) < 0.03):
        if i > 0:
            vecs[i] = vecs[rng.integers(0, i)] \
                + rng.normal(0.0, 0.05, size=dim)
    vecs = (0.125 * vecs / np.sqrt(1.0625)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_corpus(out_dir: str, seed: int, n_docs: int,
                 with_embeddings: bool = False) -> str:
    """Write ``documents.parquet`` (and ``embeddings.parquet``) under
    ``out_dir``, the fixture layout ``frontier.synth`` and
    ``jobs/curate.py`` read, and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs),
                   os.path.join(out_dir, "documents.parquet"))
    if with_embeddings:
        pq.write_table(embeddings(seed, n_docs),
                       os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
