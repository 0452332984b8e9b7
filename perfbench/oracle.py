"""Vectorized numpy BM25 oracle over the generator's token ids.

Independent of the engine: Lucene idf ``ln(1 + (N - df + 0.5) / (df + 0.5))``,
``tfn = tf / (tf + k1 * (1 - b + b * dl / avgdl))`` with k1=1.2, b=0.75, and
ranking by (score desc, docid asc).  The postings index covers every document
version the generator made; a snapshot is a boolean mask of live versions,
so one oracle answers for the base corpus and for every delta snapshot.
"""

from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-6


class Bm25Oracle:
    def __init__(self, docid: np.ndarray, offsets: np.ndarray, tokens: np.ndarray, n_terms: int):
        n = len(docid)
        self.docid = np.asarray(docid, dtype=np.int64)
        self.dl = np.diff(offsets).astype(np.float64)
        version = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
        key, tf = np.unique(tokens.astype(np.int64) * n + version, return_counts=True)
        self.post_version = key % n  # grouped by term, versions ascending
        self.post_tf = tf.astype(np.float64)
        self.term_ptr = np.searchsorted(key // n, np.arange(n_terms + 1))

    def collection(self, live: np.ndarray) -> tuple[int, int]:
        """(n_docs, total_tokens) of a snapshot."""
        return int(live.sum()), int(self.dl[live].sum())

    def df(self, live: np.ndarray, term: int) -> int:
        lo, hi = self.term_ptr[term], self.term_ptr[term + 1]
        return int(live[self.post_version[lo:hi]].sum())

    def scores(self, live: np.ndarray, terms) -> tuple[np.ndarray, np.ndarray]:
        """Dense BM25 scores over all versions, and the mask of live versions
        that match at least one term."""
        n_live, total = self.collection(live)
        avgdl = total / n_live
        acc = np.zeros(len(self.docid))
        hit = np.zeros(len(self.docid), dtype=bool)
        for t in dict.fromkeys(int(t) for t in terms):
            lo, hi = self.term_ptr[t], self.term_ptr[t + 1]
            v = self.post_version[lo:hi]
            m = live[v]
            v, tf = v[m], self.post_tf[lo:hi][m]
            if len(v) == 0:
                continue
            idf = np.log1p((n_live - len(v) + 0.5) / (len(v) + 0.5))
            acc[v] += idf * tf / (tf + K1 * (1.0 - B + B * self.dl[v] / avgdl))
            hit[v] = True
        return acc, hit

    def topk(self, live: np.ndarray, terms, k: int) -> "Ranking":
        acc, hit = self.scores(live, terms)
        idx = np.nonzero(hit)[0]
        order = idx[np.lexsort((self.docid[idx], -acc[idx]))]
        score_of = dict(zip(self.docid[idx].tolist(), acc[idx].tolist()))
        top = order[:k]
        return Ranking(self.docid[top].tolist(), acc[top].tolist(), score_of)


class Ranking:
    """An oracle top-k plus the score of every matching live doc, so that
    docids inside a score tie can be accepted in either order."""

    def __init__(self, docids: list[int], scores: list[float], score_of: dict[int, float]):
        self.docids = docids
        self.scores = scores
        self.score_of = score_of

    def matches(self, got: list[tuple[int, float]], tol: float = SCORE_TOL) -> bool:
        """True when ``got`` [(docid, score)] has the oracle's length, scores
        within ``tol`` rank by rank, and the oracle's docid at every rank
        unless the two docids tie within ``tol``."""
        if len(got) != len(self.docids) or len({d for d, _ in got}) != len(got):
            return False
        for (d, s), want_d, want_s in zip(got, self.docids, self.scores):
            if abs(s - want_s) > tol:
                return False
            if d != want_d and abs(self.score_of.get(d, -1.0) - want_s) > tol:
                return False
        return True
