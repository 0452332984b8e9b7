"""Arrow pandas UDFs wrapping the pure functions — the ONLY place Python
touches row data, always via Arrow batches (no row-at-a-time Python anywhere,
per BASELINE.json input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import analysis, encoding


@F.pandas_udf(T.BooleanType())
def detect_binary_udf(prefix: pd.Series) -> pd.Series:
    """NUL sniff.  Feed it ``substring(html, 1, 8192)`` so only the sniff
    window crosses Arrow (SURVEY.md O3 prefix short-circuit)."""
    return encoding.detect_binary_series(prefix)


@F.pandas_udf(T.StringType())
def transcode_udf(html: pd.Series) -> pd.Series:
    """bytes -> UTF-8 text (reference indexer/encoding.go chain)."""
    return encoding.try_encode_series(html)


@F.pandas_udf(T.StringType())
def detect_lang_udf(texts: pd.Series) -> pd.Series:
    """Content-based language ID (enry analog, reference
    indexer/blob.go:116-127) — script gates + trigram profiles.  Callers
    null-gate the input JVM-side (``when(lang_missing, content)``) so only
    rows that actually need detection cross Arrow."""
    from ..operators.langid import detect_language

    return texts.map(lambda t: detect_language(t)[0] if t else None)


@F.pandas_udf(T.StringType())
def classify_prog_lang_udf(heads: pd.Series) -> pd.Series:
    """enry content-classifier stage (functions/proglang.classify_content).
    Callers null-gate JVM-side so only rows no earlier strategy resolved
    cross Arrow; NULL in → NULL out (the coalesce falls through to 'Text')."""
    from .proglang import classify_content

    return heads.map(classify_content, na_action="ignore")


OCCURRENCE_OFFSETS_SCHEMA = (
    "docid long, dl int, pos int, term string, start int, end int"
)


def offsets_occurrences(docs, analyzer: str):
    """docs (docid, dl, content) → flat occurrence rows
    (docid, dl, pos, term, start, end) in ONE ``mapInPandas`` pass.

    Emits already-exploded rows instead of an Array<Struct(term,start,end)>
    column + JVM ``posexplode``: a list-of-struct cell forces pyarrow to
    build a Python tuple and convert it to an Arrow struct PER TOKEN, then
    Spark runs a generate stage over the nested column.  Here everything
    stays columnar — docid/dl fan out via ``np.repeat``, positions are a
    closed-form arange difference, and only the term strings remain Python
    objects (unavoidable: they're strings).  A document's rows are its
    ``analysis.OFFSET_ANALYZERS`` tokens in order (asserted by tests).
    """
    import numpy as np

    fn = analysis.OFFSET_ANALYZERS_COLUMNAR[analyzer]

    def gen(batches):
        for pdf in batches:
            texts = pdf["content"]
            n_docs = len(texts)
            terms: list[str] = []
            starts: list[int] = []
            ends: list[int] = []
            counts = np.empty(n_docs, dtype=np.int64)
            for i, t in enumerate(texts):
                counts[i] = fn(t if isinstance(t, str) else "", terms, starts, ends)
            total = int(counts.sum())
            if total == 0:
                continue
            # per-doc arange, concatenated: global index minus each doc's
            # cumulative start, all vectorized
            cum_starts = np.cumsum(counts) - counts
            pos = np.arange(total, dtype=np.int64) - np.repeat(cum_starts, counts)
            yield pd.DataFrame(
                {
                    "docid": np.repeat(
                        pdf["docid"].to_numpy(dtype=np.int64), counts
                    ),
                    "dl": np.repeat(pdf["dl"].to_numpy(dtype=np.int32), counts),
                    "pos": pos.astype(np.int32),
                    "term": terms,
                    "start": np.asarray(starts, dtype=np.int32),
                    "end": np.asarray(ends, dtype=np.int32),
                }
            )

    return docs.select("docid", "dl", "content").mapInPandas(
        gen, OCCURRENCE_OFFSETS_SCHEMA
    )


def make_tokenizer_udf(analyzer: str):
    """Tokenizer chain as ArrayType(StringType) pandas UDF.

    The 'simple' analyzer short-circuits to None: callers use the pure-JVM
    ``split(lower(col),'[^a-z0-9]+')`` expression instead (whole-stage
    codegen, zero Python)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tokenize_udf(texts: pd.Series) -> pd.Series:
        return analysis.tokenize_series(texts, analyzer)

    return tokenize_udf
