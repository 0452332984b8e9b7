"""Seeded inputs for the benchmark: a Common-Crawl-style pages table, a
Zipf-popular query pool and a delta.

Everything is a function of the seed.  Words are lowercase ``[a-z]+x``
strings, which both the ``simple`` and the ``default`` analyzer keep as they
are, so the whitespace split of a page's text is its token stream and the
numpy oracle (``oracle.py``) can score from the generator's token ids.

Every document version (base page, or a delta's added/modified page) gets a
version number; a snapshot is a set of live versions.

    python3 perfbench/gen.py --seed 1      # print the realized properties
"""

from __future__ import annotations

import argparse
import json
from dataclasses import dataclass

import numpy as np

N_DOCS = 2000
VOCAB = 50_000
ZIPF_S = 1.07
# docid stride: 256 docs per 8192-wide docid range, so a 2k-doc corpus spans
# 8 ranges and a delta rewrites a few of them, as on a large crawl
DOCID_GAP = 32
LEN_MEDIAN, LEN_SIGMA, LEN_MIN = 60, 0.6, 3
LANGS = ("en", "de", "fr", "es", "ja")
LANG_P = (0.6, 0.15, 0.1, 0.1, 0.05)
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

DELTA_SHARE = 0.01  # of the corpus
ADD_SHARE, MOD_SHARE = 0.8, 0.1  # the rest are deletes
RECENT_SCALE = 0.05  # modifies/deletes: weight exp(-age_rank / (scale * live))

# query classes: distinct pool entries, top-k, and how terms are picked
POOL = {"rare": 60, "mixed": 60, "head": 30}
TOP_K = {"rare": 10, "mixed": 10, "head": 100}
RARE_DF_SHARE = 0.001  # rare terms: df <= 0.1 % of N
HEAD_RANKS = 20
POOL_ZIPF = 1.0  # popularity of pool entries within a class
STREAM_LEN = 4000
REPEAT_WINDOW = 200  # prefix of the stream over which the repeat share is given


def spell(i: int) -> str:
    """Bijective base-26 spelling of ``i`` plus an ``x``: a, b, ..., z, aa ..."""
    s = []
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s.append(chr(97 + r))
    return "".join(s) + "x"


@dataclass
class Query:
    text: str
    terms: np.ndarray  # term ids, distinct
    cls: str
    k: int


@dataclass
class Delta:
    added: np.ndarray  # new versions with fresh docids
    modified: np.ndarray  # (old_version, new_version) pairs, same docid and url
    deleted: np.ndarray  # versions removed

    @property
    def removed(self) -> np.ndarray:
        return np.concatenate([self.modified[:, 0], self.deleted])

    @property
    def put(self) -> np.ndarray:
        return np.concatenate([self.added, self.modified[:, 1]])


@dataclass
class Inputs:
    seed: int
    words: np.ndarray  # term id -> word; term id = Zipf rank - 1
    docid: np.ndarray  # per version
    url: np.ndarray
    lang: np.ndarray
    ts_us: np.ndarray
    offsets: np.ndarray  # per version, into ``tokens``
    tokens: np.ndarray  # term ids
    n_base: int  # versions 0..n_base-1 are the base corpus
    delta: Delta
    pool: list[Query]
    stream: np.ndarray  # pool indices, in issue order

    @property
    def dl(self) -> np.ndarray:
        return np.diff(self.offsets)

    def text(self, v: int) -> str:
        return " ".join(self.words[self.tokens[self.offsets[v]:self.offsets[v + 1]]])


class _Builder:
    """Accumulates document versions while the corpus and the delta are drawn."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
        self.cdf = cdf / cdf[-1]
        self.docid: list[int] = []
        self.url: list[str] = []
        self.lang: list[str] = []
        self.ts: list[int] = []
        self.toks: list[np.ndarray] = []

    def draw(self, docids, urls) -> np.ndarray:
        n = len(docids)
        lens = np.maximum(
            LEN_MIN, self.rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n)
        ).astype(np.int64)
        ids = np.searchsorted(self.cdf, self.rng.random(int(lens.sum())), side="right")
        ids = np.minimum(ids, VOCAB - 1).astype(np.int32)
        first = len(self.docid)
        langs = self.rng.choice(len(LANGS), n, p=LANG_P)
        sub_second = self.rng.integers(1_000_000, size=n)
        for j, piece in enumerate(np.split(ids, np.cumsum(lens)[:-1])):
            self.docid.append(int(docids[j]))
            self.url.append(urls[j])
            self.lang.append(LANGS[langs[j]])
            # one second apart plus a sub-second part, so microseconds matter
            self.ts.append(EPOCH_US + (first + j) * 1_000_000 + int(sub_second[j]))
            self.toks.append(piece)
        return np.arange(first, first + n)


def _recent_pick(rng, live: np.ndarray, docid: np.ndarray, n: int) -> np.ndarray:
    """``n`` distinct live versions, skewed toward the most recent docids."""
    by_age = live[np.argsort(-docid[live], kind="stable")]
    w = np.exp(-np.arange(len(by_age)) / max(1.0, RECENT_SCALE * len(by_age)))
    return by_age[rng.choice(len(by_age), n, replace=False, p=w / w.sum())]


def doc_freq(offsets: np.ndarray, tokens: np.ndarray, versions) -> np.ndarray:
    """Per term id, the number of the given versions that contain it."""
    df = np.zeros(VOCAB, dtype=np.int64)
    for v in versions:
        df[np.unique(tokens[offsets[v]:offsets[v + 1]])] += 1
    return df


def make_inputs(seed: int, n_docs: int = N_DOCS) -> Inputs:
    rng = np.random.default_rng(seed)
    words = np.array([spell(int(i)) for i in rng.permutation(VOCAB)])
    b = _Builder(rng)

    base = b.draw(
        np.arange(n_docs, dtype=np.int64) * DOCID_GAP,
        [f"https://site{i % 97}.example/p/{i}.html" for i in range(n_docs)],
    )
    n = max(3, round(DELTA_SHARE * n_docs))
    n_mod = max(1, round(MOD_SHARE * n))
    n_add = round(ADD_SHARE * n)
    n_del = max(1, n - n_add - n_mod)
    touched = _recent_pick(rng, base, np.array(b.docid), n_mod + n_del)
    old_mod, deleted = touched[:n_mod], touched[n_mod:]
    new_mod = b.draw([b.docid[v] for v in old_mod], [b.url[v] for v in old_mod])
    added = b.draw(
        n_docs * DOCID_GAP + np.arange(n_add, dtype=np.int64) * DOCID_GAP,
        [f"https://site{i % 97}.example/new/{i}.html" for i in range(n_add)],
    )

    offsets = np.zeros(len(b.toks) + 1, dtype=np.int64)
    offsets[1:] = np.cumsum([len(t) for t in b.toks])
    tokens = np.concatenate(b.toks)
    pool = _make_pool(rng, words, doc_freq(offsets, tokens, base), n_docs)
    return Inputs(
        seed=seed,
        words=words,
        docid=np.array(b.docid, dtype=np.int64),
        url=np.array(b.url),
        lang=np.array(b.lang),
        ts_us=np.array(b.ts, dtype=np.int64),
        offsets=offsets,
        tokens=tokens,
        n_base=n_docs,
        delta=Delta(added, np.stack([old_mod, new_mod], axis=1), deleted),
        pool=pool,
        stream=_make_stream(rng, pool),
    )


def _make_pool(rng, words, df, n_docs) -> list[Query]:
    present = np.nonzero(df)[0]
    rare = present[df[present] <= max(1, int(RARE_DF_SHARE * n_docs))]
    head = present[np.argsort(-df[present], kind="stable")[:HEAD_RANKS]]
    pool: list[Query] = []
    seen: set[tuple[int, ...]] = set()
    for cls, n in POOL.items():
        have = 0
        while have < n:
            if cls == "rare":
                terms = rng.choice(rare, rng.integers(1, 4), replace=False)
            elif cls == "head":
                terms = rng.choice(head, rng.integers(1, 3), replace=False)
            else:
                # log-uniform over the Zipf ranks of the terms that occur
                ranks = np.exp(rng.uniform(0, np.log(len(present)), rng.integers(2, 5)))
                terms = np.unique(present[np.minimum(ranks.astype(int), len(present) - 1)])
                if len(terms) < 2:
                    continue
            key = tuple(sorted(int(t) for t in terms))
            if key in seen:
                continue
            seen.add(key)
            pool.append(Query(" ".join(words[terms]), terms, cls, TOP_K[cls]))
            have += 1
    return pool


def _make_stream(rng, pool: list[Query]) -> np.ndarray:
    """Classes in turn (rare, mixed, head, rare, ...); within a class, pool
    entries by Zipf popularity, so popular queries repeat."""
    picks = []
    for c in POOL:
        idx = rng.permutation([i for i, q in enumerate(pool) if q.cls == c])
        p = 1.0 / np.arange(1, len(idx) + 1) ** POOL_ZIPF
        picks.append(idx[rng.choice(len(idx), STREAM_LEN, p=p / p.sum())])
    return np.stack(picks, axis=1).reshape(-1)[:STREAM_LEN]


def describe(inp: Inputs) -> dict:
    """The properties the seed realized."""
    base = np.arange(inp.n_base)
    dl = inp.dl[base]
    counts = np.bincount(inp.tokens[: inp.offsets[inp.n_base]], minlength=VOCAB)
    freq = np.sort(counts[counts > 0])[::-1]
    top = np.arange(1, min(1000, len(freq)) + 1)
    slope = np.polyfit(np.log(top), np.log(freq[: len(top)]), 1)[0]
    df = doc_freq(inp.offsets, inp.tokens, base)
    window = inp.stream[:REPEAT_WINDOW]
    return {
        "seed": inp.seed,
        "n_docs": int(inp.n_base),
        "tokens": int(dl.sum()),
        "vocabulary": int((counts > 0).sum()),
        "zipf_s_configured": ZIPF_S,
        "zipf_s_fitted_top1000": round(float(-slope), 3),
        "doc_len_quartiles": [float(x) for x in np.percentile(dl, [25, 50, 75])],
        "df_range_per_class": {
            c: [
                int(min(df[t] for q in inp.pool if q.cls == c for t in q.terms)),
                int(max(df[t] for q in inp.pool if q.cls == c for t in q.terms)),
            ]
            for c in POOL
        },
        "query_pool": dict(POOL),
        "query_repeat_share": round(1 - len(set(window.tolist())) / len(window), 3),
        "delta": {
            "added": len(inp.delta.added),
            "modified": len(inp.delta.modified),
            "deleted": len(inp.delta.deleted),
        },
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(describe(make_inputs(a.seed)), indent=1))
