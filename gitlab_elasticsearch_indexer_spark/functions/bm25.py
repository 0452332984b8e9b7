"""BM25 scoring math (Lucene-default parameters k1=1.2, b=0.75 — the
reference mapping sets no similarity override, elastic/index.go:97-345).

One canonical formula, float64 everywhere:

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))          (Lucene BM25 idf,
                                                             stored per term in
                                                             term_stats)
    tfn      = tf / (tf + k1 * (1 - b + b * dl / avgdl))    (Lucene >=8 drops
                                                             the (k1+1) factor)
    score(d) = sum over matched query terms of idf(t) * tfn

``bm25`` below is the per-term expression; the exhaustive scorer
(operators/search.bm25_score_col), the range kernel (operators/wand.
score_range) and both block-max bounds evaluate it.  The DuckDB oracle SQL
spells the same formula.

Tie-break for rank identity: (score DESC, docid ASC) — fixed here, never
revisited (SURVEY.md §7 hard part #1).
"""

from __future__ import annotations

from ..config import BM25_B, BM25_K1


def bm25(idf, tf, dl, avgdl: float):
    """idf·tf / (tf + k1·(1 − b + b·dl/avgdl)): one term's score, over
    float64 numpy arrays or scalars, or over double Spark Columns.

    The operation order is part of the contract: (idf·tf) is formed first,
    then divided.  A block bound is this same expression at (max_tf,
    min_dl), so it rounds exactly like the score of a posting with that tf
    and dl and never falls below the scores it covers; a bound written as
    ``idf · (tf / den)`` can round one ulp below ``(idf · tf) / den`` and
    lose a doc that ties the k-th score."""
    return idf * tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
