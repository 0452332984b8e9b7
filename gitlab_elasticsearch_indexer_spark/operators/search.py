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

import os
import tempfile
import threading
import weakref

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import _create_row
from pyspark.sql.pandas.types import to_arrow_schema

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


def hits_frame(spark, table: pa.Table | None = None, schema: T.StructType = HITS) -> DataFrame:
    """The result frame of every search path: an Arrow ``table`` (None →
    empty) as a ``HitsFrame`` of ``schema`` (no timestamp columns), whose
    rows stay in the driver: ``collect()`` and ``schema`` make no py4j
    call, and the JVM frame is built on the first Spark operation."""
    arrow_schema = _session_jvm(spark).arrow_schema(schema)
    table = pa.Table.from_batches([], arrow_schema) if table is None else table
    return HitsFrame(spark, table.cast(arrow_schema), schema)


class HitsFrame(ClassicDataFrame):
    """A classic DataFrame over an Arrow table held in the driver.

    ``schema`` (hence ``columns``) is the held ``StructType`` and
    ``collect()`` builds its ``Row``s from the table's columns: a query
    result crosses no Python/JVM boundary when it is only collected.
    ``_jdf`` is built once, on first use, under a lock; every other method
    (``select``, ``join``, ``toPandas``, ``count``, ``write``, ...) runs
    unchanged on it.  That JVM frame plans as a LocalRelation, so
    collecting it launches no Spark job (a list of rows, or an empty pandas
    frame, is parallelized as an RDD and costs a job on every collect).
    It is built as pyspark's ``createDataFrame(table, schema)`` builds it
    (one Arrow IPC stream through a temp file) in two py4j calls —
    ``readArrowStreamFromFile``, then ``toDataFrame`` — where
    ``createDataFrame`` makes about 20.  With ``spark.io.encryption.enabled``
    the data must not touch disk in plaintext, so pyspark's own socket
    path runs.

    Relies on these pyspark 4.1 internals of
    ``pyspark.sql.classic.dataframe.DataFrame``: ``__new__(jdf, sql_ctx)``
    calls ``__init__`` (hence both are overridden here), which sets
    ``_session``, ``_sc``, ``_jdf``, ``is_cached`` and
    ``_support_repr_html``; its methods reach the JVM only through
    ``_jdf``; ``columns`` derives from ``schema``.  And on
    ``pyspark.sql.types._create_row``, ``SparkContext._encryption_enabled``
    and ``_temp_dir``, and ``PythonSQLUtils.readArrowStreamFromFile`` /
    ``toDataFrame``."""

    def __new__(cls, *args, **kwargs) -> "HitsFrame":
        return object.__new__(cls)

    def __init__(self, spark, table: pa.Table, schema: T.StructType):
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._table = table
        self._struct = schema
        self._built_jdf = None
        self._lock = threading.Lock()

    @property
    def schema(self) -> T.StructType:
        return self._struct

    def collect(self) -> list[Row]:
        names = self._struct.names
        columns = [c.to_pylist() for c in self._table.columns]
        return [_create_row(names, values) for values in zip(*columns)]

    @property
    def _jdf(self):
        if self._built_jdf is None:
            with self._lock:
                if self._built_jdf is None:
                    self._built_jdf = self._build_jdf()
        return self._built_jdf

    def _build_jdf(self):
        spark, sc = self._session, self._sc
        if sc._encryption_enabled:
            return spark.createDataFrame(self._table, self._struct)._jdf
        jvm = _session_jvm(spark)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, self._table.schema) as writer:
            writer.write_table(self._table, max_chunksize=jvm.batch_rows)
        fd, path = tempfile.mkstemp(dir=sc._temp_dir)
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(sink.getvalue())
            batches = jvm.read_arrow_file(path)
        finally:
            os.unlink(path)
        return jvm.to_data_frame(batches, self._struct.json(), spark._jsparkSession)


class _SessionJvm:
    """A session's JVM entry points for ``HitsFrame``, resolved once."""

    def __init__(self, spark):
        utils = spark._jvm.PythonSQLUtils
        self.read_arrow_file = utils.readArrowStreamFromFile
        self.to_data_frame = utils.toDataFrame
        self.batch_rows = spark._jconf.arrowMaxRecordsPerBatch()
        self.large_types = spark._jconf.arrowUseLargeVarTypes()
        self._schemas: dict[str, pa.Schema] = {}

    def arrow_schema(self, schema: T.StructType) -> pa.Schema:
        """The Arrow schema of ``schema`` as pyspark converts it."""
        key = schema.json()
        if key not in self._schemas:
            self._schemas[key] = to_arrow_schema(
                schema, error_on_duplicated_field_names_in_struct=True,
                prefers_large_types=self.large_types,
            )
        return self._schemas[key]


_SESSION_JVM: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _session_jvm(spark) -> _SessionJvm:
    jvm = _SESSION_JVM.get(spark)
    if jvm is None:  # a race resolves twice, harmlessly
        jvm = _SESSION_JVM[spark] = _SessionJvm(spark)
    return jvm


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
