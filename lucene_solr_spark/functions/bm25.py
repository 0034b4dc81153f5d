"""Okapi BM25 scoring kernel, Lucene-8 float path.

Mirrors `[U] lucene/core/src/java/org/apache/lucene/search/similarities/
BM25Similarity.java :: idf(), computeNorm(), BM25Scorer.score()`:

- ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` computed in float64,
  with N = docCount (docs that have the field) — SURVEY.md §4.4.4.
- per-term ``weight = boost * idf`` cast to float32. Lucene 8 removed
  the classic ``(k1+1)`` numerator (rank-neutral rescale,
  SURVEY.md §4.4.5); ``classic_k1p1=True`` restores it.
- a 256-entry float32 cache ``cache[norm] = k1 * (1 - b + b *
  LENGTH_TABLE[norm] / avgdl)`` indexed by the lossy norm byte
  (smallfloat.py), with ``avgdl = sumTotalTermFreq / docCount`` from
  exact field stats.
- ``score = weight * tf / (tf + cache[norm])`` evaluated in float32 in
  Java's left-associative order: ``(weight * tf) / (tf + cache)``.

All functions are numpy-vectorized; the same kernel is used by the
Spark scorer UDFs and by the pure-Python test oracle, so engine-vs-
oracle golden tests exercise the distributed machinery (partitioning,
salting, merge) against an exhaustive single-process
evaluation of the identical float path.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .smallfloat import LENGTH_TABLE

__all__ = ["K1", "B", "BM25Stats", "idf", "term_weight", "norm_cache", "score_tf"]

K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class BM25Stats:
    """Field-level collection statistics (exact, global — SURVEY.md §3.2)."""

    doc_count: int  # docs that have the field
    sum_dl: int  # sumTotalTermFreq == sum of exact doc lengths

    @property
    def avgdl(self) -> float:
        if self.doc_count == 0:
            return 0.0
        return self.sum_dl / self.doc_count


def idf(df: int, doc_count: int) -> float:
    """Lucene-8 idf in float64."""
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


def term_weight(df: int, doc_count: int, boost: float = 1.0, classic_k1p1: bool = False) -> np.float32:
    """Per-term query weight as float32."""
    w = boost * idf(df, doc_count)
    if classic_k1p1:
        w *= K1 + 1.0
    return np.float32(w)


def norm_cache(avgdl: float, k1: float = K1, b: float = B) -> np.ndarray:
    """256-entry float32 cache over the lossy norm byte.

    Lucene precomputes exactly this per (similarity, field stats):
    ``cache[i] = k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl)``.
    """
    if avgdl <= 0:
        return np.full(256, np.float32(k1), dtype=np.float32)
    return (k1 * ((1.0 - b) + b * LENGTH_TABLE.astype(np.float64) / avgdl)).astype(np.float32)


def score_tf(
    weight: np.float32, tfs: np.ndarray, norm_bytes: np.ndarray, cache: np.ndarray
) -> np.ndarray:
    """Vectorized float32 BM25: (weight * tf) / (tf + cache[norm])."""
    tf32 = np.asarray(tfs, dtype=np.float32)
    c = cache[np.asarray(norm_bytes, dtype=np.uint8)]
    return (np.float32(weight) * tf32) / (tf32 + c)
