"""Query-time retrieval, exhaustive DataFrame path (SURVEY.md Q2-Q5,Q7).

This is the declarative reference scorer: everything is built-in DataFrame
ops (broadcast joins + hash agg + TakeOrdered), so Catalyst/Tungsten run the
whole plan in codegen and the DuckDB oracle can verify it end-to-end.  The
block-skipping path (operators/wand.py) must produce rank-identical results
— asserted in tests.

Plan shape:
    segments scan                          [bucket ∈ query buckets → partition
       | filter(term ∈ query terms)         pruning, Q8; term pushed to parquet]
    decode blocks (mapInPandas)
    ⨝ broadcast(term_stats ∩ query terms)  [idf]
    ⨝ docs (docid, dl [, filter predicate Q7])
    score = idf * tf/(tf + k1*(1-b+b*dl/avgdl))
    groupBy(docid).sum(score)              [map-side partial agg]
    orderBy(score desc, docid asc).limit(k)  [global top-k = TakeOrdered]
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.analysis import ANALYZERS
from ..functions.bm25 import bm25
from .postings import decode_segments


def analyze_query(query: str, analyzer: str) -> list[str]:
    """Match-query semantics: analyze with the field's analyzer, then OR the
    distinct terms (elastic default operator, SURVEY.md Q2)."""
    return list(dict.fromkeys(ANALYZERS[analyzer](query)))


def analyze_query_seq(query: str, analyzer: str) -> list[str]:
    """Phrase-query semantics: the raw analyzed token SEQUENCE, order and
    duplicates preserved — a phrase like "data data" must verify two
    adjacent occurrences, which the deduplicated match-query term list
    cannot express."""
    return list(ANALYZERS[analyzer](query))


# every scorer's result schema, and with the doc columns search() joins; a
# StructType, since a DDL string is parsed over py4j on every createDataFrame
HITS = T.StructType([T.StructField("docid", T.LongType()), T.StructField("score", T.DoubleType())])
HITS_WITH_DOCS = T.StructType(
    HITS.fields + [T.StructField("url", T.StringType()), T.StructField("lang", T.StringType())]
)


def hits_frame(spark, docids=(), scores=()) -> DataFrame:
    """(docid, score) rows as a frame over an Arrow table; no arguments →
    empty.  An Arrow-built frame plans as a LocalRelation, so collecting it
    launches no Spark job — a list of rows, or an empty pandas frame, is
    parallelized as an RDD instead and costs a job on every collect."""
    table = pa.table({"docid": pa.array(docids, pa.int64()), "score": pa.array(scores, pa.float64())})
    return spark.createDataFrame(table, HITS)


def bm25_score_col(tf: Column, dl: Column, idf: Column, avgdl: float) -> Column:
    return bm25(idf, tf.cast("double"), dl.cast("double"), avgdl)


def filter_segments_for_terms(segments: DataFrame, terms: list[str]) -> DataFrame:
    """Routing-style pruning: restrict to the terms' hash buckets (partition
    pruning on the parquet layout) then the exact terms (row-group pushdown).

    Buckets are computed DRIVER-SIDE with the pure-Python xxhash64 twin
    (functions/xxhash.py, golden-tested ≡ Spark's) — zero Spark jobs spent
    learning the routing key, the same way an ES client routes without
    asking the cluster."""
    if not terms:
        return segments.limit(0)
    return segments.filter(
        F.col("bucket").isin(query_buckets(terms)) & F.col("term").isin(terms)
    )


def query_buckets(terms: list[str]) -> list[int]:
    """The segment ``bucket`` partitions holding ``terms``' postings."""
    from ..config import N_TERM_BUCKETS
    from ..functions.xxhash import term_bucket

    return sorted({term_bucket(t, N_TERM_BUCKETS) for t in terms})


def search_exhaustive(
    segments: DataFrame,
    term_stats: DataFrame,
    docs: DataFrame,
    query_terms: list[str],
    k: int,
    avgdl: float,
    doc_filter: Column | None = None,
    require_all: bool = False,
) -> DataFrame:
    """→ (docid, score) top-k, tie-break (score desc, docid asc).
    ``require_all``: conjunctive match-query semantics (ES
    ``operator: and``) — only docs containing every query term score."""
    if not query_terms:
        return hits_frame(segments.sparkSession)

    postings = decode_segments(filter_segments_for_terms(segments, query_terms))
    stats = term_stats.filter(F.col("term").isin(query_terms)).select("term", "idf")
    doc_side = docs.select("docid", "dl") if doc_filter is None else docs.filter(
        doc_filter
    ).select("docid", "dl")

    scored = (
        postings.join(F.broadcast(stats), "term")
        .join(doc_side, "docid")
        .select(
            "docid",
            "term",
            bm25_score_col(F.col("tf"), F.col("dl"), F.col("idf"), avgdl).alias("s"),
        )
        .groupBy("docid")
        .agg(
            F.sum("s").alias("score"),
            F.countDistinct("term").alias("n_matched"),
        )
    )
    if require_all:
        scored = scored.filter(F.col("n_matched") == len(set(query_terms)))
    scored = scored.drop("n_matched")
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)
