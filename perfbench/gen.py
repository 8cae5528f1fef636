"""Inputs of the benchmark.

The base tables are the package's shipped sf0.01 test data, copied
unchanged into ``data/sf0.01`` (``{table}.parquet``, one row group each).
What ``ingest_serve`` adds epoch by epoch is drawn from the seed, in the
shape of those tables: texts from the base documents' vocabulary and
length range, unit vectors of the base embeddings' width, and languages,
sources, labels and event types as the base tables have them.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.01")


def read_table(name: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet")).to_pandas()


def random_texts(rng, like: pd.Series, n: int) -> list[str]:
    """``n`` word sequences over the words of ``like``, with lengths
    drawn from the same range."""
    tokens = like.str.split()
    words = np.asarray(sorted({w for ws in tokens for w in ws}))
    lens = rng.integers(tokens.str.len().min(), tokens.str.len().max() + 1, n)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def unit_vectors(rng, n: int, dims: int) -> np.ndarray:
    v = rng.standard_normal((n, dims)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def documents_frame(doc_ids, texts, like: pd.DataFrame, rng) -> pd.DataFrame:
    n = len(doc_ids)
    return pd.DataFrame({
        "doc_id": np.asarray(doc_ids, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(like.lang.to_numpy(), n),
        "source": rng.choice(like.source.to_numpy(), n),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_frame(vec_ids, vecs, labels) -> pd.DataFrame:
    return pd.DataFrame({
        "vec_id": np.asarray(vec_ids, dtype=np.int64),
        "embedding": list(vecs),
        "label": np.asarray(labels, dtype=np.int32),
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
