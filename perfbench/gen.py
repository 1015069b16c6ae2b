"""Seeded base tables for the benchmark.

Writes ``documents``, ``events`` and ``embeddings`` parquet files with the
schemas of the repository's sf tables (see TESTDATA.md). The seed drives
the text, event and vector content and the id offsets; the workloads then
replicate these base tables inside Spark (and inside DuckDB for the
correctness gate), so placement by multiplicative hash of the id gives
each seed different points in the same polygons.

Planted duplicates: every document whose base index is ``1 (mod
PLANT_EVERY)`` repeats the text of the previous document, so the
duplicate pairs (and the ingest-screen hits) are known by construction.
They are exact copies because the LSH banding (2 bands of 4 MinHashes)
misses a pair of shingle Jaccard 0.95 about one time in forty; a copy
shares every band. The vocabulary is wide enough that unplanted pairs
stay far below a 0.5 shingle Jaccard.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PLANT_EVERY = 20
N_VOCAB = 600
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000


@dataclass(frozen=True)
class Sizes:
    n_docs: int = 5000
    n_events: int = 40_000
    n_users: int = 600
    n_vecs: int = 2000
    dim: int = 64


@dataclass(frozen=True)
class Offsets:
    """Seed-chosen id offsets. ``doc`` shifts every replica but the first
    (copy 0 keeps ids ``0..n-1``, so ``doc_id < 1000`` query batches are
    never empty); it is even, so planted pairs keep their parity."""

    doc: int
    user: int
    event: int

    @classmethod
    def from_seed(cls, seed: int) -> "Offsets":
        rng = np.random.default_rng([seed, 7])
        return cls(
            doc=2 * int(rng.integers(1, 50_000_000)),
            user=int(rng.integers(0, 900_000)),
            event=int(rng.integers(0, 10_000_000)),
        )


def _vocab(rng) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < N_VOCAB:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def documents(seed: int, sizes: Sizes) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    n = sizes.n_docs
    lens = rng.integers(8, 80, n)
    texts = [" ".join(rng.choice(vocab, int(k))) for k in lens]
    for i in range(1, n, PLANT_EVERY):
        texts[i] = texts[i - 1]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def planted_pairs(n_docs: int) -> list[tuple[int, int]]:
    """Base-index pairs (a, b) with a < b that share their text."""
    return [(i - 1, i) for i in range(1, n_docs, PLANT_EVERY)]


def events(seed: int, sizes: Sizes, off: Offsets) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    n = sizes.n_events
    ts = np.sort(rng.integers(0, SPAN_US, n)) + T0_US
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64") + off.event,
        "ts": ts.astype("datetime64[us]"),
        "user_id": (rng.integers(0, sizes.n_users, n).astype("int64")
                    + off.user),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def embeddings(seed: int, sizes: Sizes) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    v = rng.standard_normal((sizes.n_vecs, sizes.dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(sizes.n_vecs, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, sizes.n_vecs).astype("int32")),
    })


def write_tables(out_dir: str, seed: int, sizes: Sizes) -> Offsets:
    """Write the three base tables under ``out_dir`` and return the
    offsets the replicated views must apply."""
    off = Offsets.from_seed(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs = documents(seed, sizes)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    ev = events(seed, sizes, off)
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False),
                   os.path.join(out_dir, "events.parquet"))
    pq.write_table(embeddings(seed, sizes),
                   os.path.join(out_dir, "embeddings.parquet"))
    return off
