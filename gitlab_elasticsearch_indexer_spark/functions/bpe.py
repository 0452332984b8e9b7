"""Real byte-pair-encoding token counting behind the pretoken proxy.

``operators/textstats.bpe_token_counts`` counts *pretokens* (one JVM
``regexp_extract_all``; SQL-reproducible — that entry keeps its DuckDB
oracle).  A real BPE tokenizer merges characters *within* each pretoken
against a learned, rank-ordered merge table, so the pretoken count
over-estimates the budget for common words ("the" is 1 BPE token, not 3
characters) and under-estimates it for rare ones.  This module supplies the
missing half:

- ``train_merges(texts, n_merges)``: the classic BPE learner (Sennrich et
  al. 2016, "Neural Machine Translation of Rare Words with Subword Units"):
  pretokenize, count word frequencies, repeatedly merge the most frequent
  adjacent symbol pair.  Fully deterministic (ties broken by lexicographic
  pair order), so the packaged table is reproducible byte-for-byte.
- ``bpe_merges.txt``: a frozen 512-merge table trained by
  ``scripts/train_bpe_merges.py`` on the deterministic synthetic corpus
  (driver-seeded ``documents`` text), packaged as data and loaded through
  ``importlib.resources`` exactly like ``kstem_lexicon.txt``.  A production
  deployment drops in a published merge table (e.g. a truncated GPT-2
  ``merges.txt``) through the same ``load_merges`` hook — the file format
  (one space-separated pair per line, rank = line order) is the GPT-2 one.
- ``encode(word, ranks)``: the GPT-2-style greedy encoder — repeatedly
  merge the *lowest-ranked* pair present until none applies.  Pretokens
  carry their leading space (see ``PRETOKEN_PATTERN``), so no end-of-word
  marker is needed.

Scale shape: encoding is Python, so it runs as an Arrow-batched pandas
kernel (``operators/textstats.bpe_merge_token_counts``) with a per-executor
memo keyed by pretoken — webtext vocabulary is Zipfian, so the hit rate
approaches 1 and the amortized cost per token is a dict lookup.  The JVM
pretoken proxy remains the fast path when only an approximate budget is
needed.

Reference scope note: the reference indexer (gitlab-elasticsearch-indexer)
has no tokenizer-budget stage; this is part of the LLM-training-data
pipeline surface the engine adds (SURVEY.md §2.6).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import Iterable

# GPT-2-style pretokenizer, RE2-compatible (no lookaheads): common
# contractions, space-prefixed letter/digit runs, punctuation runs, spaces.
# Canonical home of the pattern; operators/textstats re-exports it so the
# JVM proxy and the merged path split text identically.
PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"
)
_PRETOKEN_RE = re.compile(PRETOKEN_PATTERN)


def pretokenize(text: str) -> list[str]:
    return _PRETOKEN_RE.findall(text)


# ---------------------------------------------------------------------------
# Training (Sennrich-style)
# ---------------------------------------------------------------------------
def train_merges(texts: Iterable[str], n_merges: int) -> list[tuple[str, str]]:
    """Learn an ordered merge list from a corpus.

    Deterministic: the next merge is the (count, pair)-max with ties broken
    toward the lexicographically SMALLEST pair, so the same corpus always
    yields the same table regardless of dict iteration order.
    """
    word_freq: Counter[str] = Counter()
    for t in texts:
        word_freq.update(pretokenize(t))
    # vocab: symbol-tuple -> corpus frequency
    vocab: dict[tuple[str, ...], int] = {
        tuple(w): f for w, f in word_freq.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == best[0] and sym[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


# ---------------------------------------------------------------------------
# Merge table: packaged data, GPT-2 merges.txt format
# ---------------------------------------------------------------------------
# Learned symbols can contain ANY pretoken character — tabs/newlines (from
# whitespace-run pretokens) and a leading '#' (from punctuation runs) would
# corrupt a line-oriented tab-separated file, so symbols are escaped on
# write and unescaped on parse.  The committed table needs no escapes (its
# corpus is [a-z ] text + a word list), so the format stays byte-compatible
# with what a published GPT-2 merges.txt (symbols never contain raw
# tab/newline) parses as.
_ESC = {"\\": "\\\\", "\t": "\\t", "\n": "\\n", "\r": "\\r"}
_UNESC = {"\\\\": "\\", "\\t": "\t", "\\n": "\n", "\\r": "\r", "\\#": "#"}


def _escape(sym: str) -> str:
    for raw, esc in _ESC.items():
        sym = sym.replace(raw, esc)
    return sym


def _unescape(sym: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(sym):
        two = sym[i : i + 2]
        if two in _UNESC:
            out.append(_UNESC[two])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return "".join(out)


def _parse_merges(text: str) -> dict[tuple[str, str], int]:
    """Merge lines in rank order, in either of two formats.

    - Native (any line holds a tab — the trainer's and ``dump_lines``'
      format): tab-separated escaped pairs, since symbols may contain spaces
      (pretokens carry their leading space).  ``#`` lines are comments; a
      symbol that starts with ``#`` is written escaped.
    - Published GPT-2 ``merges.txt`` (no tabs; symbols use Ġ for space and
      never contain a raw tab/newline): space-separated and unescaped, so a
      ``\\`` symbol stays as written and a ``# #`` line is a merge; only a
      leading ``#version`` header is skipped.
    """
    lines = text.splitlines()
    native = any("\t" in line for line in lines)
    if not native and lines and lines[0].startswith("#version"):
        lines = lines[1:]
    ranks: dict[tuple[str, str], int] = {}
    for line in lines:
        if native:
            if line.startswith("#"):
                continue
            a, _, b = line.partition("\t")
            a, b = _unescape(a), _unescape(b)
        else:
            a, _, b = line.partition(" ")
        if a and b:
            ranks[(a, b)] = len(ranks)
    return ranks


def dump_lines(ranks: dict[tuple[str, str], int] | None = None) -> list[str]:
    """Active (or given) merge table as escaped tab-separated lines, in rank
    order — the exact lines ``load_merges`` reconstructs the same table
    from (used by the writer script and to ship the driver's table into
    Spark executor kernels)."""
    if ranks is None:
        ranks = _RANKS
    items = sorted(ranks.items(), key=lambda kv: kv[1])
    out = []
    for (a, b), _ in items:
        line = f"{_escape(a)}\t{_escape(b)}"
        if line.startswith("#"):
            line = "\\" + line
        out.append(line)
    return out


def _load_packaged_merges() -> dict[tuple[str, str], int]:
    from importlib import resources

    text = resources.files(__package__).joinpath("bpe_merges.txt").read_text()
    return _parse_merges(text)


_RANKS: dict[tuple[str, str], int] = _load_packaged_merges()
_cache: dict[str, int] = {}
_CACHE_CAP = 1 << 20  # bound executor memory; Zipf vocab rarely nears this


def merges_fingerprint() -> str:
    """Content hash of the active merge table (lineage / repro evidence)."""
    blob = "\n".join(dump_lines()).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def load_merges(lines: Iterable[str]) -> None:
    """Replace the merge table at runtime (e.g. with a published GPT-2
    table truncated to N merges).  Clears the encode memo."""
    global _RANKS
    _RANKS = _parse_merges("\n".join(lines))
    _cache.clear()


# ---------------------------------------------------------------------------
# Encoding (GPT-2-style greedy lowest-rank merge)
# ---------------------------------------------------------------------------
def encode(word: str, ranks: dict[tuple[str, str], int] | None = None) -> list[str]:
    """BPE-segment one pretoken.  ``"".join(encode(w)) == w`` always."""
    if ranks is None:
        ranks = _RANKS
    parts = list(word)
    while len(parts) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (parts[i], parts[i + 1])
        if best_pair is None:
            break
        merged = best_pair[0] + best_pair[1]
        out: list[str] = []
        i = 0
        while i < len(parts):
            if (
                i < len(parts) - 1
                and parts[i] == best_pair[0]
                and parts[i + 1] == best_pair[1]
            ):
                out.append(merged)
                i += 2
            else:
                out.append(parts[i])
                i += 1
        parts = out
    return parts


def token_len(word: str) -> int:
    """Memoized BPE token count of one pretoken against the active table."""
    n = _cache.get(word)
    if n is None:
        n = len(encode(word))
        if len(_cache) >= _CACHE_CAP:
            _cache.clear()
        _cache[word] = n
    return n


def count_tokens(text: str) -> int:
    """Merged-BPE token count of a document (sum over pretokens)."""
    return sum(token_len(w) for w in pretokenize(text))
