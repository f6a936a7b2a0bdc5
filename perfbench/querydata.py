"""Seeded input tables for the ``operator_queries`` workload.

Writes ``documents``, ``embeddings`` and ``events`` parquet files with
the schemas the ``__spark_entry__.queries()`` entries read:

- documents: word salads over a small vocabulary, five language tags,
  twenty sources; a share of documents are near-copies of an earlier
  one (same words plus a suffix), so the dedup, substring and cluster
  operators find work;
- embeddings: 64-dim unit vectors around ten label centroids;
- events: a 30-day click stream of 150 users and five event types.

Every value is a pure function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the hash order table window row batch big group spark filter sort join "
    "line data column key merge agg small scan vector stream value customer "
    "slow part fast query"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def documents(rng: np.random.Generator, n: int, dup_share: float) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            base = texts[int(rng.integers(0, i))].split()
            cut = int(rng.integers(len(base) // 2, len(base) + 1))
            texts.append(" ".join(base[:cut] + ["dup"]))
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )


def events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
            "value": np.round(rng.lognormal(3.5, 1.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(
    out_dir: str, seed: int, n_docs: int, n_vecs: int, n_events: int, dup_share: float
) -> dict[str, dict[str, int]]:
    """Write the three tables; return rows and bytes per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    frames = {
        "documents": documents(rng, n_docs, dup_share),
        "embeddings": embeddings(rng, n_vecs),
        "events": events(rng, n_events),
    }
    stats = {}
    for name, df in frames.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        stats[name] = {"rows": len(df), "bytes": os.path.getsize(path)}
    stats["documents"]["near_duplicates"] = int(
        frames["documents"].text.str.endswith(" dup").sum()
    )
    return stats
