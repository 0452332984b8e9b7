"""Pages-table synthesis + readers.

The engine's primary input is an Iceberg table of Common-Crawl-style pages
``(url, warc_ts, html, text, lang)`` (BASELINE.json input_hint).  No external
data exists in this sandbox, so the table is synthesized *deterministically*
from the driver-generated ``documents`` parquet (seed fixed by the driver):
every value is a pure function of ``doc_id``, so the same bytes appear at
every parallelism level — a precondition for rank-identity across cluster
sizes (SURVEY.md §7 hard part #5).

The base derivation is expressible identically in Spark and ANSI SQL (used
verbatim by the DuckDB oracle); the special row classes from FIXTURES.md §1
(binary, non-UTF-8, too-large, long-url, empty) are appended Python-side for
the pytest golden suite.

Reference analog: the change-stream source git/gitaly.go:158-219; a full
build is a scan, an incremental build is a snapshot diff (see
plans/incremental.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import PAGES

def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base pages table derived from documents.parquet (plus doc_id passthrough
    used as the deterministic docid)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def pages_pluralized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages whose content is the document text plus a pluralized twin of
    every token (``... table ... tables ...``).  The driver corpus contains
    no inflected forms at all, so a stemming analyzer over the base pages
    would be a no-op on the index side — its oracle vacuously identical to
    an unstemmed one.  This derived corpus makes the stemmer's conflations
    load-bearing in the value hash while staying a pure function of doc_id
    (DuckDB twin: ``text || ' ' || regexp_replace(text,'([a-z0-9]+)','\\1s','g')``).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text2 = F.concat(
        F.col("text"),
        F.lit(" "),
        F.regexp_replace(F.col("text"), r"([a-z0-9]+)", r"$1s"),
    )
    return docs.select(
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        F.encode(text2, "UTF-8").alias("html"),
        text2.alias("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


# The UAX#29-divergent words pages_uax29 plants, one of each list per doc
# (picked by doc_id residue).  tests/test_functions.py pins every one of
# them against the engine, UAX29_ORACLE_TOKEN_RE and the [^\W_]+ split.
UAX29_CONTRACTIONS = ("don't", "can't", "won't", "o'clock", "isn't")
UAX29_UNDERSCORED = ("foo_bar", "max_len", "tmp_dir")
UAX29_ACRONYMS = ("u.s.a", "e.g", "i.e", "a.b.c")


def _sql_pick(words: tuple[str, ...]) -> str:
    quoted = ",".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"[{quoted}][CAST(doc_id % {len(words)} AS INT) + 1]"


# DuckDB twin of pages_uax29's text derivation (kept adjacent so the two
# stay in lockstep; entry_queries interpolates it into the oracle SQL).
UAX29_TEXT_SQL = (
    f"text || ' ' || {_sql_pick(UAX29_CONTRACTIONS)}"
    " || ' ' || CAST(doc_id % 7 AS VARCHAR) || '.' || CAST(doc_id % 13 AS VARCHAR)"
    " || ' 1,' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    f" || ' ' || {_sql_pick(UAX29_UNDERSCORED)}"
    f" || ' ' || {_sql_pick(UAX29_ACRONYMS)}"
)

# RE2-compatible tokenizer (DuckDB regexp_extract_all) that is EXACT for
# the pages_uax29 corpus: word runs (letters/digits/_, so ExtendNumLet
# underscore joins) extended by consuming a MidLetter/MidNumLet/MidNum
# joiner plus the following run.  RE2 has no lookaround, so the pattern
# cannot check the neighbor CLASS of a joiner the way the engine's
# _UAX29_RE does (`3.x` must split, `don't` must join) — the corpus is
# constructed so no cross-class joiner sequence ever occurs, which makes
# the simplified pattern tokenize identically to UAX#29 on this data.
# (Apostrophe pre-doubled: the constant is interpolated inside a
# single-quoted SQL string literal.)
UAX29_ORACLE_TOKEN_RE = "[a-z0-9_]+(?:[''.,][a-z0-9_]+)*"


def pages_uax29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages whose content appends UAX#29-divergent tokens — contractions
    (``don't``), decimal/thousand-separated numerics (``3.14``, ``1,042``),
    ExtendNumLet underscore joins (``foo_bar``), and dotted acronyms
    (``u.s.a``) — each picked deterministically by ``doc_id`` residues so
    term df/tf vary across the corpus.

    Why this corpus exists: the base driver corpus is pure ``[a-z ]`` text,
    on which the UAX#29 standard tokenizer and the old ``[^\\W_]+``
    approximation produce IDENTICAL streams — an oracle over it can never
    catch an A1 regression.  Here every appended token tokenizes
    differently under the two (``don't`` → [don't] vs [don, t]; ``1,042``
    → [1,042] vs [1, 042]; ``foo_bar`` → [foo_bar] vs [foo, bar]), so dl,
    df, tf and therefore every BM25 hash diverge if the word-boundary
    rules regress.  Reference: standard tokenizer in the mapping,
    elastic/index.go:30-36."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def pick(words: tuple[str, ...]):
        return F.element_at(
            F.array(*[F.lit(x) for x in words]),
            (F.col("doc_id") % len(words) + 1).cast("int"),
        )

    text2 = F.concat(
        F.col("text"),
        F.lit(" "),
        pick(UAX29_CONTRACTIONS),
        F.lit(" "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 13).cast("string"),
        F.lit(" 1,"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" "),
        pick(UAX29_UNDERSCORED),
        F.lit(" "),
        pick(UAX29_ACRONYMS),
    )
    return docs.select(
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        F.encode(text2, "UTF-8").alias("html"),
        text2.alias("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def pages_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages whose URL path embeds an adjacency-differentiating segment,
    keyed by ``doc_id % 3``: ``/data/query`` (adjacent), ``/data/mid/query``
    (both terms present, NOT adjacent), or nothing.  A field-scoped
    match_phrase "data query" over the ``url`` field must return exactly the
    residue-0 docs — a bag-of-words field match would wrongly include the
    residue-1 docs, so positional adjacency on namespaced field postings is
    load-bearing in the value hash.  Pure function of doc_id (DuckDB twin:
    ``PAGES_PHRASE_URL_SQL``).  Reference: per-field analyzers + text-field
    positions, elastic/index.go:115-146."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seg = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("/data/query"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/data/mid/query"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            seg,
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


# DuckDB twin of pages_phrase's url derivation (shared with oracle_sql)
PAGES_PHRASE_URL_SQL = (
    "'https://example.com/' || source || "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '/data/query' "
    "WHEN 1 THEN '/data/mid/query' ELSE '' END || "
    "'/doc' || CAST(doc_id AS VARCHAR) || '.html'"
)


def special_pages(spark: SparkSession, base_docid: int = 10_000_000) -> DataFrame:
    """FIXTURES.md §1 special row classes, deterministic, for golden tests.

    docids start at ``base_docid`` so they never collide with document rows.
    """
    rows = [
        # (suffix, html bytes, golden text, lang)
        ("binary-nul.bin", b"\x89PNG\x00" + b"x" * 100, "", "Text"),
        ("nul-after-8k.txt", b"a " * 5000 + b"\x00", ("a " * 5000 + "\x00"), "en"),
        ("gb18030.txt", "狞\n".encode("gb18030"), "狞\n", "zh"),
        (
            "shift-jis.txt",
            "これはテストです。\nこれもマージして下さい。\n\nAdd excel file.\nDelete excel file.".encode(
                "shift_jis"
            ),
            "これはテストです。\nこれもマージして下さい。\n\nAdd excel file.\nDelete excel file.",
            "ja",
        ),
        ("too-large.txt", b"big page content " * 70000, "", "en"),  # >1MiB
        ("long-" + "u" * 600 + ".txt", b"long url page", "long url page", "en"),
        ("empty.txt", b"", "", "en"),
    ]
    pdf = pd.DataFrame(
        {
            "url": [f"https://example.com/special/{s}" for s, _, _, _ in rows],
            "warc_ts": pd.Timestamp("2024-06-01 00:00:00"),
            "html": [h for _, h, _, _ in rows],
            "text": [t for _, _, t, _ in rows],
            "lang": [l for _, _, _, l in rows],
            "doc_id": [base_docid + i for i in range(len(rows))],
        }
    )
    # fresh StructType — StructType.add mutates in place
    schema = T.StructType(list(PAGES.fields) + [T.StructField("doc_id", T.LongType(), False)])
    return spark.createDataFrame(pdf, schema=schema)


def pages_with_specials(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_from_documents(spark, sf_dir).unionByName(special_pages(spark))


def pages_scaled(spark: SparkSession, sf_dir: str, replication: int) -> DataFrame:
    """Deterministic scaled-up corpus for scaling benchmarks (FIXTURES.md §7):
    each document row is replicated ``replication`` times with a unique
    docid/url and a per-replica token appended, so every value is still a
    pure function of (doc_id, rep) — identical bytes at any parallelism.

    The crossJoin with a range() is Spark's standard data-amplification
    shape: it multiplies rows without shuffling the base table.
    """
    base = pages_from_documents(spark, sf_dir)
    reps = spark.range(replication).select(F.col("id").alias("rep"))
    # The tiny base parquet is a single split; a real 100 TB pages table
    # arrives as thousands of file splits.  Repartition the amplified rows so
    # the narrow transform stages (transcode/tokenize) parallelize like they
    # would off a real source — otherwise everything upstream of the first
    # shuffle runs on one core.
    n_parts = spark.sparkContext.defaultParallelism * 2
    return (
        base.crossJoin(reps)
        .repartition(n_parts)
        .select(
            F.concat(
                F.col("url"), F.lit("?rep="), F.col("rep").cast("string")
            ).alias("url"),
            "warc_ts",
            F.encode(
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")),
                "UTF-8",
            ).alias("html"),
            F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
            "lang",
            (F.col("doc_id") * replication + F.col("rep")).alias("doc_id"),
        )
    )
