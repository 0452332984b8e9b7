"""Analyzer chains — pure functions over ``pd.Series``.

Re-implements the analysis section of the reference's index mapping
(elastic/index.go:12-86) as vectorized pandas transforms, consumed by Arrow
pandas UDFs (functions/udfs.py).  Chains:

- default analyzer  = standard tokenizer + lowercase + light_english stemmer
  (elastic/index.go:29-36).  The standard tokenizer implements UAX#29 word
  segmentation (the rules Lucene's StandardTokenizer follows): letter/digit
  runs extended by MidLetter/MidNumLet between letters (``don't``,
  ``U.S.A.`` → ``u.s.a``), MidNum/MidNumLet between digits (``3.14``,
  ``1,000``), ExtendNumLet joins (``foo_bar`` is ONE token), Katakana runs
  as single tokens, and Han/Hiragana ideographs as one token per character.
  Tokenization runs on the ORIGINAL string and the lowercase filter applies
  per token afterwards — the Lucene filter-chain order, which also keeps
  index- and query-time streams identical to the offsets path for
  codepoints whose lowercase changes length (U+0130).  ES ``light_english``
  resolves to Lucene's KStemFilter — implemented in functions/kstem.py
  (published Krovetz algorithm + curated lexicon; divergences documented
  there).  ``light_english_stem`` below is the simpler published
  EnglishMinimalStemmer, used by the ``minimal_english`` option.
- simple analyzer   = lowercase + ``[a-z0-9]+`` runs.  Chosen as the
  engine's *oracle* analyzer: it is exactly expressible in both Spark SQL
  (`split(lower(text),'[^a-z0-9]+')`) and DuckDB
  (`string_split_regex(lower(text),'[^a-z0-9]+')`), so index+query results
  are independently verifiable end-to-end.
- code analyzer     = whitespace tokenizer + word_delimiter_graph
  (preserve_original) + flatten + lowercase + asciifolding + edge_ngram 2-40
  (elastic/index.go:45-55,18-27).
- path analyzer     = reversed path_hierarchy + lowercase + asciifolding
  (elastic/index.go:37-44,73-76).
- ngram analyzer    = 2-3 letter/digit ngram tokenizer + lowercase
  (elastic/index.go:56-72).
- sha normalizer    = lowercase keyword normalizer (elastic/index.go:78-85).
"""

from __future__ import annotations

import re
import unicodedata
from typing import Callable

import pandas as pd

# letter/digit runs — the ngram TOKENIZER's token_chars: [letter, digit]
# (elastic/index.go:64-72); NOT the standard tokenizer (see _UAX29_RE)
_ALNUM_RUN_RE = re.compile(r"[^\W_]+", re.UNICODE)
_SIMPLE_RE = re.compile(r"[a-z0-9]+")

# ---------------------------------------------------------------------------
# UAX#29 word segmentation — the `standard` tokenizer (elastic/index.go:30-36;
# Lucene StandardTokenizer implements the Unicode TR29 word-boundary rules).
# Encoded as one alternation regex:
#   1. Katakana runs stay together (WB13);
#   2. Han + Hiragana emit ONE TOKEN PER CHARACTER (Lucene's IDEOGRAPHIC /
#      HIRAGANA handling — no join rule exists for them);
#   3. everything else: runs of word characters (letters, digits, underscore
#      — ExtendNumLet joins via WB13a/13b, so `foo_bar` is one token),
#      extended by MidLetter/MidNumLet between letters (WB6/7: apostrophes,
#      U+00B7/U+0387/U+05F4/U+2027, and `.` — `don't`, `U.S.A`,
#      `example.com`) and MidNum/MidNumLet between digits (WB11/12: `.`
#      `,` U+066B/U+066C — `3.14`, `1,000`).  Colon is NOT a joiner (removed
#      from MidLetter; ES splits `foo:bar`).
# Context classes use fixed-width lookaround so a joiner binds only when
# BOTH neighbours are the right category (`2'a` / trailing `U.S.A.` dot
# stay out).
#   4. Hebrew geresh/gershayim (WB7a-c, added r5): a Hebrew letter keeps a
#      trailing U+0027 geresh even at token end (WB7a — a single-letter
#      abbreviation keeps its quote), and U+0022 between two Hebrew
#      letters joins (WB7b/7c — gershayim acronyms).  Hebrew letters are
#      AHLetter, so Hebrew-quote-Hebrew already joined via WB6/7.  A
#      geresh NOT followed by a Hebrew letter ends the token: `צ'1` is
#      [צ', 1] and `צ'_x` is [צ', _x] (nothing after WB7a joins it).
#   5. Regional indicators (WB15/16, added r5): RI symbols pair from the
#      left (greedy two-at-a-time), so one emoji flag is ONE token and two
#      flags are two tokens — never a break inside a pair.  Lucene's
#      StandardTokenizer segments these identically but then drops
#      symbol-only tokens; we emit them (webtext-useful), documented as an
#      extension.
# Remaining documented residue: Hebrew presentation forms U+FB1D-FB4F
# (compatibility codepoints, NFKD-normalized away in most pipelines).
# ---------------------------------------------------------------------------
_HAN = "⺀-⻿々〇〡-〩㐀-䶿一-鿿豈-﫿"
_HIRA = "ぁ-ゖゝ-ゟ"
_KATA = "ァ-ヺー-ヿㇰ-ㇿｦ-ﾝ"
_HEB = "א-תׯװ-ײ"            # Hebrew_Letter: letters + Yiddish ligatures
_RI = "\U0001F1E6-\U0001F1FF"                 # Regional_Indicator
_WCH = rf"[^\W{_HAN}{_HIRA}{_KATA}]"          # word char (incl. _) minus CJK
_LET = rf"[^\W\d_{_HAN}{_HIRA}{_KATA}]"       # letter only, minus CJK
# MidLetter ∪ MidNumLet: apostrophe U+0027/U+2019, FULL STOP, U+00B7,
# U+0387, U+05F4, U+2027
_MIDLET = "[\u0027\u2019.\u00B7\u0387\u05F4\u2027]"
# MidNum ∪ MidNumLet: FULL STOP, COMMA, apostrophes, U+066B, U+066C
_MIDNUM = "[.,\u0027\u2019\u066B\u066C]"
_UAX29_RE = re.compile(
    rf"[{_RI}]{{2}}|[{_RI}]"
    rf"|[{_KATA}]+"
    rf"|[{_HAN}{_HIRA}]"
    rf"|{_WCH}(?:{_WCH}"
    rf"|(?<={_LET}){_MIDLET}(?={_LET})"
    rf"|(?<=\d){_MIDNUM}(?=\d)"
    rf'|(?<=[{_HEB}])"(?=[{_HEB}])'  # WB7b/7c gershayim
    rf")*(?:(?<=[{_HEB}])')?",       # WB7a geresh: last char, then a break
    re.UNICODE,
)
_WS_RE = re.compile(r"\S+")
# word_delimiter_graph: split points inside a whitespace token
_WDG_SPLIT_RE = re.compile(
    r"[^0-9A-Za-z]+"            # non-alphanumeric runs
    r"|(?<=[a-z])(?=[A-Z])"     # fooBar -> foo|Bar
    r"|(?<=[A-Za-z])(?=[0-9])"  # foo2   -> foo|2
    r"|(?<=[0-9])(?=[A-Za-z])"  # 2foo   -> 2|foo
)


# ---------------------------------------------------------------------------
# Token filters
# ---------------------------------------------------------------------------
def light_english_stem(token: str) -> str:
    """Lucene EnglishMinimalStemmer (public algorithm): strip plural -s.

    Keeps ``-ss``/``-us``, rewrites ``-ies`` -> ``-y`` (len>4, not -aies/-eies),
    keeps ``-[iaoe]es``, else drops the final ``s``.
    """
    n = len(token)
    if n < 3 or token[-1] != "s":
        return token
    c2 = token[-2]
    if c2 in ("u", "s"):
        return token
    if c2 == "e":
        if n > 3 and token[-3] == "i" and (n < 5 or token[-4] not in ("a", "e")):
            return token[:-3] + "y"
        if token[-3] in ("i", "a", "o", "e"):
            return token
    return token[:-1]


# Lucene ASCIIFoldingFilter mappings that NFKD decomposition does NOT
# produce (no canonical/compatibility decomposition to an ASCII base):
# ligatures, crossed/slashed letters, Icelandic/Old-English letters.
# Subset of the published filter table (Apache Lucene, public source);
# applied after NFKD so precomposed accents are already handled.
_FOLD_MAP = {
    "Æ": "AE", "æ": "ae",      # Æ æ
    "Œ": "OE", "œ": "oe",      # Œ œ
    "ß": "ss", "ẞ": "SS",      # ß ẞ
    "Ø": "O", "ø": "o",        # Ø ø
    "Ð": "D", "ð": "d",        # Ð ð (eth)
    "Þ": "TH", "þ": "th",      # Þ þ (thorn)
    "Đ": "D", "đ": "d",        # Đ đ (stroke)
    "Ħ": "H", "ħ": "h",        # Ħ ħ
    "ı": "i",                        # ı (dotless i)
    "ĸ": "q",                        # ĸ (kra)
    "Ł": "L", "ł": "l",        # Ł ł
    "Ŧ": "T", "ŧ": "t",        # Ŧ ŧ
    "ŉ": "'n",                       # ŉ
    "‘": "'", "’": "'",        # curly single quotes
    "“": '"', "”": '"',        # curly double quotes
    "–": "-", "—": "-",        # en/em dash
}


def ascii_fold(token: str) -> str:
    """Lucene asciifolding: NFKD + strip combining marks, then the explicit
    ASCIIFoldingFilter mappings NFKD can't reach (ß→ss, Ø→O, Æ→AE, …).
    Unmapped non-ASCII codepoints pass through unchanged (same as before)."""
    if token.isascii():
        return token
    s = "".join(
        c for c in unicodedata.normalize("NFKD", token) if not unicodedata.combining(c)
    )
    if s.isascii():
        return s
    return "".join(_FOLD_MAP.get(c, c) for c in s)


def edge_ngrams(token: str, min_gram: int = 2, max_gram: int = 40) -> list[str]:
    """edge_ngram filter 2-40 (elastic/index.go:23-27): prefixes per token."""
    return [token[:i] for i in range(min_gram, min(max_gram, len(token)) + 1)]


def char_ngrams(text: str, min_gram: int = 2, max_gram: int = 3) -> list[str]:
    """ngram tokenizer 2-3 over letter/digit runs (elastic/index.go:64-72)."""
    out: list[str] = []
    for run in _ALNUM_RUN_RE.findall(text):
        for n in range(min_gram, max_gram + 1):
            out.extend(run[i : i + n] for i in range(len(run) - n + 1))
    return out


def word_delimiter_graph(
    token: str,
    preserve_original: bool = True,
    catenate_words: bool = False,
    catenate_numbers: bool = False,
    catenate_all: bool = False,
) -> list[str]:
    """word_delimiter_graph with preserve_original=true (elastic/index.go:18-22).

    ``flatten_graph`` is implicit: we emit a flat token list (original first,
    then catenations, then sub-tokens in order), which is what the flattened
    graph indexes.  The catenate options mirror Lucene's:
    ``catenate_words`` joins maximal runs of ≥2 alphabetic sub-words
    ("wi-fi" → "wifi"), ``catenate_numbers`` joins digit runs
    ("500-42" → "50042"), ``catenate_all`` joins every sub-part
    ("wi-fi-4" → "wifi4").  The reference mapping sets none of them (only
    preserve_original), so the code chain uses the defaults; they exist for
    mapping-parity with custom analyzers."""
    parts = [p for p in _WDG_SPLIT_RE.split(token) if p]
    out: list[str] = []
    if preserve_original and (len(parts) != 1 or parts[0] != token):
        out.append(token)
    if catenate_all and len(parts) > 1:
        out.append("".join(parts))
    if catenate_words or catenate_numbers:
        run: list[str] = []
        run_is_digit = False

        def flush():
            if len(run) > 1 and (
                (run_is_digit and catenate_numbers)
                or (not run_is_digit and catenate_words)
            ):
                joined = "".join(run)
                if joined not in out:
                    out.append(joined)

        for p in parts:
            d = p.isdigit()
            if run and d == run_is_digit:
                run.append(p)
            else:
                flush()
                run, run_is_digit = [p], d
        flush()
    out.extend(parts)
    return out


def path_hierarchy_reversed(path: str) -> list[str]:
    """path_hierarchy tokenizer with reverse=true (elastic/index.go:73-76):
    ``a/b/c`` -> [``a/b/c``, ``b/c``, ``c``]."""
    parts = path.split("/")
    return ["/".join(parts[i:]) for i in range(len(parts))]


# ---------------------------------------------------------------------------
# Analyzer chains (str -> list[str])
# ---------------------------------------------------------------------------
def analyze_default(text: str) -> list[str]:
    """standard tokenizer + lowercase + KStem (= ES light_english)."""
    from . import kstem

    return [kstem.stem(t.lower()) for t in _UAX29_RE.findall(text)]


def analyze_minimal(text: str) -> list[str]:
    """standard tokenizer + lowercase + EnglishMinimalStemmer — the lighter
    plural-only alternative (kept for comparison/tests)."""
    return [light_english_stem(t.lower()) for t in _UAX29_RE.findall(text)]


def analyze_standard(text: str) -> list[str]:
    """ES built-in ``standard`` analyzer: standard (UAX#29) tokenizer +
    lowercase, no stemmer — the ES default analyzer for text fields when a
    mapping names none.  Also the chain the driver's UAX#29-differentiating
    oracle entry runs (ft_bm25_uax29_topk): with no stemmer in the chain,
    the token stream is a pure function of the tokenizer, so a hash match
    certifies the word-boundary rules themselves."""
    return [t.lower() for t in _UAX29_RE.findall(text)]


def analyze_simple(text: str) -> list[str]:
    return _SIMPLE_RE.findall(text.lower())


def analyze_code(text: str) -> list[str]:
    out: list[str] = []
    for ws_tok in _WS_RE.findall(text):
        for sub in word_delimiter_graph(ws_tok):
            folded = ascii_fold(sub.lower())
            if not folded:
                continue
            out.extend(edge_ngrams(folded))
    return out


def analyze_path(text: str) -> list[str]:
    return [ascii_fold(t.lower()) for t in path_hierarchy_reversed(text)]


def analyze_ngram(text: str) -> list[str]:
    return char_ngrams(text.lower())


ANALYZERS: dict[str, Callable[[str], list[str]]] = {
    "default": analyze_default,
    "minimal_english": analyze_minimal,
    "standard": analyze_standard,
    "simple": analyze_simple,
    "code": analyze_code,
    "path": analyze_path,
    "ngram": analyze_ngram,
}

# Analyzer implementation versions, written into the index catalog at build
# time and checked at search time.  Bump a version whenever the chain's
# token output can change for the same input — the analyzer NAME alone is
# not enough to detect that an index's stored postings no longer match
# query-time analysis (the 'default' chain silently changed stemmers
# between builds once; a name-only catalog made that undetectable).
def _kstem_lexicon_fingerprint() -> str:
    """Content-derived version suffix: the default chain's output depends on
    the KStem lexicon, so the version string hashes it — ANY lexicon change
    (growth, removal, a fixed headword) flips the catalog guard
    automatically instead of relying on a hand-bumped counter (which
    silently drifted once within a round)."""
    import hashlib

    from . import kstem

    digest = hashlib.sha1("\n".join(sorted(kstem._DICT)).encode()).hexdigest()[:8]
    return f"lex{len(kstem._DICT)}-{digest}"


ANALYZER_VERSIONS: dict[str, str] = {
    # uax29: r4 replaced the [^\W_]+ approximation with real UAX#29 word
    # boundaries (contractions, MidNum, ExtendNumLet, CJK); r5 added WB7a-c
    # (Hebrew geresh/gershayim) and WB15/16 (regional-indicator pairs) —
    # token output changed again, so every standard-tokenizer chain bumped
    # (the "b" suffix); a geresh before a digit or "_" stopped joining
    # them (WB7a, the "c" suffix).
    "default": f"uax29c-lower-kstem-{_kstem_lexicon_fingerprint()}",
    "minimal_english": "uax29c-lower-minimal-3",
    "standard": "uax29c-lower-2",
    "simple": "lower-alnum-1",
    "code": "ws-wdg-fold-edge2.40-2",  # v2: Lucene fold table beyond NFKD
    "path": "pathrev-fold-2",          # v2: Lucene fold table beyond NFKD
    "ngram": "ngram2.3-lower-1",
}


def refresh_analyzer_versions() -> None:
    """Recompute content-derived version entries.  kstem.load_lexicon()
    mutates the lexicon AFTER import, so the fingerprint captured at import
    time would go stale — the guard would then pass while actual token
    output differs (exactly the mismatch it exists to catch).  load_lexicon
    calls this; anything else that mutates analyzer behavior at runtime
    must too."""
    ANALYZER_VERSIONS["default"] = f"uax29c-lower-kstem-{_kstem_lexicon_fingerprint()}"


def tokenize_series(texts: pd.Series, analyzer: str = "default") -> pd.Series:
    """Vectorized entry point used by the pandas UDFs: Series[str] ->
    Series[list[str]].  NaN/None -> empty list."""
    fn = ANALYZERS[analyzer]
    return texts.fillna("").map(fn)


# ---------------------------------------------------------------------------
# Offset-aware tokenization (index_options=offsets, §1.4)
# ---------------------------------------------------------------------------
_SIMPLE_CI_RE = re.compile(r"[a-zA-Z0-9]+")


def analyze_simple_offsets(text: str) -> list[tuple[str, int, int]]:
    """simple chain with character offsets: (term, start, end) per token.

    Tokenizes the ORIGINAL string (case-insensitive pattern) and lowers each
    matched token afterwards — NOT ``text.lower()`` first, because lowering
    is not length-preserving for all inputs (U+0130 'İ' lowercases to two
    chars), which would shift every subsequent offset.  Offsets therefore
    always index the unmodified string (Lucene offset semantics).  Matched
    tokens are pure ASCII, so the per-token ``lower()`` is length-safe."""
    return [
        (m.group(0).lower(), m.start(), m.end())
        for m in _SIMPLE_CI_RE.finditer(text)
    ]


def analyze_default_offsets(text: str) -> list[tuple[str, int, int]]:
    """default chain with offsets: the stemmed term carries the ORIGINAL
    token's offsets — token filters never move offsets (Lucene contract),
    which is what makes highlighting work on stemmed indexes.

    Tokenizes the original string and lowers per matched token (see
    analyze_simple_offsets for why whole-string lower() would corrupt
    offsets)."""
    from . import kstem

    return [
        (kstem.stem(m.group(0).lower()), m.start(), m.end())
        for m in _UAX29_RE.finditer(text)
    ]


OFFSET_ANALYZERS: dict[str, Callable[[str], list[tuple[str, int, int]]]] = {
    "simple": analyze_simple_offsets,
    "default": analyze_default_offsets,
}


# Columnar twins of the offset analyzers: append (term, start, end) into
# caller-owned flat lists and return the token count.  Same token stream as
# the tuple-returning versions (asserted by tests), but the batch emitter
# (udfs.offsets_occurrences) can hand the accumulated columns to Arrow as
# three flat arrays instead of a per-row list<struct<..>> cell — the
# per-token tuple→Arrow-struct conversion was the dominant cost of the
# positions+offsets build shape (BENCH.md §2 round-4 block).
def _simple_offsets_columnar(
    text: str, terms: list, starts: list, ends: list
) -> int:
    n = 0
    for m in _SIMPLE_CI_RE.finditer(text):
        terms.append(m.group(0).lower())
        starts.append(m.start())
        ends.append(m.end())
        n += 1
    return n


def _default_offsets_columnar(
    text: str, terms: list, starts: list, ends: list
) -> int:
    from . import kstem

    stem = kstem.stem
    n = 0
    for m in _UAX29_RE.finditer(text):
        terms.append(stem(m.group(0).lower()))
        starts.append(m.start())
        ends.append(m.end())
        n += 1
    return n


OFFSET_ANALYZERS_COLUMNAR: dict[str, Callable[[str, list, list, list], int]] = {
    "simple": _simple_offsets_columnar,
    "default": _default_offsets_columnar,
}
