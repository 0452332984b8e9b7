"""BM25 scoring math (Lucene-default parameters k1=1.2, b=0.75 — the
reference mapping sets no similarity override, elastic/index.go:97-345).

One canonical formula, float64 everywhere, used by ALL paths (DataFrame
exhaustive scorer, block-max scorer, pandas oracle, DuckDB oracle SQL):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))          (Lucene BM25 idf)
    tfn      = tf / (tf + k1 * (1 - b + b * dl / avgdl))    (Lucene >=8 drops
                                                             the (k1+1) factor)
    score(d) = sum over matched query terms of idf(t) * tfn

Tie-break for rank identity: (score DESC, docid ASC) — fixed here, never
revisited (SURVEY.md §7 hard part #1).
"""

from __future__ import annotations

import math

import numpy as np

from ..config import BM25_B, BM25_K1


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def idf_np(n_docs: int, df: np.ndarray) -> np.ndarray:
    return np.log1p((n_docs - df + 0.5) / (df + 0.5))


def tf_norm_np(
    tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float = BM25_K1, b: float = BM25_B
) -> np.ndarray:
    """tf / (tf + k1*(1-b+b*dl/avgdl)) as float64 arrays."""
    tf = tf.astype(np.float64)
    return tf / (tf + k1 * (1.0 - b + b * (dl.astype(np.float64) / avgdl)))
