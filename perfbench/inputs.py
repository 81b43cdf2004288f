"""Seeded benchmark inputs.

Every input is a pure function of the workload seed, so two runs with the
same ``--seed`` see byte-identical data and the program under test receives
only the generated inputs (never the seed itself).
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def rotated(items: list, seed: int) -> list:
    """``items`` rotated by a seed-chosen offset (the query order)."""
    k = random.Random(seed).randrange(len(items))
    return items[k:] + items[:k]


def shuffled(items: list, seed: int) -> list:
    """``items`` in a seed-chosen order (the crawl's seed-URL list)."""
    out = list(items)
    random.Random(seed).shuffle(out)
    return out


def documents_frame(n_docs: int, seed: int) -> pd.DataFrame:
    """Word-salad corpus in the ``documents`` table shape.

    One doc in eight is a near copy of an earlier doc (one word swapped), so
    the near-dup pipelines find verified pairs beyond the exact copies the
    queries inject themselves.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_frame(n_vecs: int, seed: int, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    """Unit vectors around ``labels`` centres; one in twenty is a jittered
    copy of an earlier vector (cosine well above the 0.95 dup threshold)."""
    rng = np.random.default_rng(seed + 1)
    centres = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n_vecs).astype(np.int32)
    vecs = centres[lab] + rng.normal(scale=1.5, size=(n_vecs, dim))
    for i in range(1, n_vecs):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.01, size=dim)
            lab[i] = lab[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": lab,
        }
    )


def write_tables(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one row group
    each, the layout the query suite's inputs have) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": documents_frame(n_docs, seed),
        "embeddings": embeddings_frame(n_vecs, seed),
    }
    for name, pdf in tables.items():
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return out_dir
