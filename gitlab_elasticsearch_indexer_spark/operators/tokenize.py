"""docs → token streams: analysis + (optional) term-frequency aggregation
(Lucene's per-field analysis stage, SURVEY.md Q1 first half).

Default ('simple') analyzer runs ENTIRELY JVM-side — ``split``/``filter``/
``explode`` stay inside whole-stage codegen; richer analyzer chains
(standard+stemmer, code, path, ngram) drop to one Arrow pandas UDF producing
the token array, after which the same JVM operators apply.

Two consumption shapes:

- ``explode_tokens`` → one row per occurrence (docid, dl, term [, pos]) —
  the input to the posting builder's single-shuffle partition kernel
  (operators/postings.py), which derives tf from sort order.
- ``tokenize``      → (docid, term, tf, dl) pre-aggregated — used by
  operators that want per-(doc,term) rows (dedup, entry queries);
  ``groupBy(docid, term)`` partial-aggregates map-side (docid spreads the
  shuffle; no term skew at this stage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ANALYZER_SIMPLE
from ..functions.udfs import make_tokenizer_udf

SIMPLE_SPLIT_RE = "[^a-z0-9]+"


def tokens_expr(analyzer: str = ANALYZER_SIMPLE, text_col: str = "content") -> Column:
    """Token-array column for a text column — JVM for 'simple', Arrow UDF
    otherwise."""
    if analyzer == ANALYZER_SIMPLE:
        return F.filter(
            F.split(F.lower(F.col(text_col)), SIMPLE_SPLIT_RE), lambda x: x != ""
        )
    return make_tokenizer_udf(analyzer)(F.col(text_col))


def token_arrays(
    docs: DataFrame, analyzer: str = ANALYZER_SIMPLE, text_col: str = "content"
) -> DataFrame:
    """docs → (docid, toks array<string>, dl int)."""
    return docs.select(
        "docid", tokens_expr(analyzer, text_col).alias("toks")
    ).withColumn("dl", F.size("toks").cast("int"))


def explode_tokens(
    docs: DataFrame,
    analyzer: str = ANALYZER_SIMPLE,
    text_col: str = "content",
    with_positions: bool = False,
) -> DataFrame:
    """docs → occurrence stream (docid, dl, term [, pos])."""
    arr = token_arrays(docs, analyzer, text_col)
    if with_positions:
        return arr.select("docid", "dl", F.posexplode("toks").alias("pos", "term"))
    return arr.select("docid", "dl", F.explode("toks").alias("term"))


def tokenize(
    docs: DataFrame, analyzer: str = ANALYZER_SIMPLE, text_col: str = "content"
) -> DataFrame:
    """docs → (docid, term, tf, dl) rows."""
    occ = explode_tokens(docs, analyzer, text_col)
    return occ.groupBy("docid", "term").agg(
        F.count("*").cast("int").alias("tf"), F.first("dl").alias("dl")
    )
