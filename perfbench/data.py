"""Seeded benchmark inputs.

The KG corpus is the program's own ``synth.synth_docs`` generator, written
to parquet by the worker before any timing starts. The dedup registry reads
``documents.parquet`` and ``embeddings.parquet`` from a directory in the
test-data schema of TESTDATA.md; ``write_registry_dir`` generates both from
a seed with numpy, in the same shape as the sf0.01 tables: a
30-word vocabulary, 10-99 tokens per document, 5% planted near-duplicates
(an earlier document plus one appended token) and unit-norm 64-d vectors
in 10 clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data query spark table row column key value join hash sort scan "
    "filter group agg merge order part line customer window stream vector "
    "batch big small fast slow"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
DIM = 64
N_CLUSTERS = 10


def registry_documents(seed: int, n_docs: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, size=n)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def registry_embeddings(seed: int, n_vecs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    labels = rng.integers(0, N_CLUSTERS, size=n_vecs).astype(np.int32)
    x = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_registry_dir(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.Table.from_pandas(registry_documents(seed, n_docs), preserve_index=False)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(
        registry_embeddings(seed, n_vecs), os.path.join(out_dir, "embeddings.parquet")
    )
