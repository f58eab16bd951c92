"""Seeded input generators.

Every generator takes the run's seed and derives its own random stream
from it, so adding a draw to one input never shifts another, and the
same seed gives byte-identical inputs on every machine with the same
numpy and pyarrow. The engine sees only the generated tables.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

N_CLUSTERS = 16
NOISE = 0.6  # per-coordinate spread around a cluster centre (centres ~N(0,1))


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def centres(seed: int, dim: int) -> np.ndarray:
    return rng(seed, f"centres{dim}").standard_normal((N_CLUSTERS, dim))


def clustered(g: np.random.Generator, c: np.ndarray, n: int) -> np.ndarray:
    """``n`` float32 vectors around randomly chosen centres of ``c``."""
    labels = g.integers(0, len(c), n)
    noise = NOISE * g.standard_normal((n, c.shape[1]))
    return (c[labels] + noise).astype(np.float32)


def vector_corpus(seed: int, n: int,
                  dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids 0..n-1, float32 vectors) of a clustered corpus."""
    vecs = clustered(rng(seed, "corpus"), centres(seed, dim), n)
    return np.arange(n, dtype=np.int64), vecs


def query_batches(seed: int, stream: str, n_batches: int, batch: int,
                  dim: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """Distinct query batches drawn from the corpus distribution. Query
    ids are unique across all batches of a stream."""
    g = rng(seed, stream)
    c = centres(seed, dim)
    out = []
    for b in range(n_batches):
        ids = np.arange(b * batch, (b + 1) * batch, dtype=np.int64)
        out.append((ids, clustered(g, c, batch)))
    return out


def upsert_batches(seed: int, n_base: int, n_batches: int, batch: int,
                   dim: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """Write batches for an index built over ids 0..n_base-1: half of each
    batch re-writes existing ids with new vectors, half adds new ids."""
    g = rng(seed, "upserts")
    c = centres(seed, dim)
    n_changed = batch // 2
    next_new = n_base
    out = []
    for _ in range(n_batches):
        changed = np.sort(g.choice(n_base, n_changed, replace=False))
        new = np.arange(next_new, next_new + batch - n_changed, dtype=np.int64)
        next_new += len(new)
        out.append((np.concatenate([changed.astype(np.int64), new]),
                    clustered(g, c, batch)))
    return out


VOCAB = [f"{a}{b}" for a in ("spark", "vector", "index", "query", "table",
                             "shard", "cache", "batch", "merge", "scan",
                             "graph", "token", "model", "judge", "score",
                             "embed")
         for b in ("", "s", "ing", "ed", "er", "al", "ive", "ion",
                   "ly", "ment", "ity", "ize", "able", "ness", "ward",
                   "ful")]


def text_corpus(seed: int, n: int) -> tuple[np.ndarray, list[str]]:
    """(doc ids 0..n-1, texts of 20-60 words) for the search pipeline."""
    g = rng(seed, "docs")
    lengths = g.integers(20, 61, n)
    words = g.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return np.arange(n, dtype=np.int64), texts


def vector_table(ids: np.ndarray, vecs: np.ndarray, id_col: str,
                 vec_col: str) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    lists = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, vecs.shape[1], dtype=np.int32)),
        flat,
    )
    return pa.table({id_col: pa.array(ids, type=pa.int64()), vec_col: lists})


def text_table(ids: np.ndarray, texts: list[str]) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                     "text": pa.array(texts, type=pa.string())})
