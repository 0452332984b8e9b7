"""pages → docs: the per-document transform pipeline (reference
indexer/blob.go BuildBlob + indexer/indexer.go envelope, re-expressed as one
declarative ``select`` so Catalyst prunes/pushes everything).

Covers SURVEY.md §2 operators:
- F2 too-large filter  — keep the row, null the content (blob.go:72-92)
- F3 binary filter     — NUL in first 8 KiB, prefix-only shipped to Python
                         (blob.go:129-139 + O3)
- P1 transcode         — Arrow UDF (encoding.go)
- P3 ID generation     — pure column expr w/ sha1 fallback (blob.go:48-64)
- P5 basename          — element_at(split(url,'/'),-1) (blob.go:100)
- P6 date format       — date_format %Y%m%dT%H%M%S%z (person.go:10)
- P7/P9 doc assembly   — flat columns; parent-child join_field becomes the
                         denormalized project_id (elastic/index.go:245-259)
- Q7 permission fields — visibility/repository_access literals
                         (main.go:178-191)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import BINARY_SNIFF_LIMIT, LIMIT_FILE_SIZE
from ..functions.ids import blob_id_col, date_fmt_col
from ..functions.udfs import detect_binary_udf, detect_lang_udf, transcode_udf


def build_docs(
    pages: DataFrame,
    project_id: int = 1,
    limit_file_size: int = LIMIT_FILE_SIZE,
    visibility_level: int = 0,
    repository_access_level: int = 0,
    docid_col: str = "doc_id",
    detect_lang: bool = False,
    with_prog_lang: bool = False,
) -> DataFrame:
    """pages (+ deterministic ``doc_id``) → docs (without ``dl``, which is
    joined in after tokenization).

    When the golden ``text`` column is present, extraction parity demands the
    produced ``content`` be byte-identical to it for non-binary, non-too-large
    pages — asserted in tests/test_pipeline.py.

    ``detect_lang=True`` fills a null/empty upstream ``lang`` from content
    (enry analog, blob.go:116-127) — fallback only, never overrides upstream
    truth; the detector input is null-gated JVM-side so rows with a ``lang``
    ship nothing extra across Arrow.

    ``with_prog_lang=True`` adds the reference blob's ``Language`` field —
    the full enry strategy chain (blob.go:116-127, default "Text"):
    modeline/filename/shebang/extension as pure-JVM CASE expressions, plus
    the token-evidence content classifier as a null-gated Arrow stage that
    only unresolved rows reach (functions/proglang.py).
    """
    pid = F.lit(project_id).cast("long")
    too_large = (F.octet_length(F.col("html")) > F.lit(limit_file_size)).alias(
        "too_large"
    )
    # O3: only the 8 KiB sniff window crosses the Arrow boundary
    is_binary = detect_binary_udf(F.expr(f"substring(html, 1, {BINARY_SNIFF_LIMIT})"))

    content: Column = (
        F.when(F.col("too_large") | F.col("is_binary"), F.lit(""))
        .otherwise(transcode_udf(F.col("html")))
        .alias("content")
    )

    out = (
        pages.withColumn("too_large", too_large)
        .withColumn("is_binary", F.when(F.col("too_large"), F.lit(False)).otherwise(is_binary))
        .select(
            F.col(docid_col).cast("long").alias("docid"),
            blob_id_col(pid, F.col("url")).alias("id"),
            pid.alias("project_id"),
            "url",
            F.element_at(F.split(F.col("url"), "/"), -1).alias("file_name"),
            content,
            "lang",
            "warc_ts",
            date_fmt_col(F.col("warc_ts")).alias("warc_ts_fmt"),
            "is_binary",
            "too_large",
            F.lit(visibility_level).cast("int").alias("visibility_level"),
            F.lit(repository_access_level).cast("int").alias("repository_access_level"),
        )
    )
    if with_prog_lang:
        from ..functions.proglang import prog_language_content_col

        out = out.withColumn(
            "prog_language",
            prog_language_content_col(F.col("file_name"), F.col("content")),
        )
    if detect_lang:
        missing = F.col("lang").isNull() | (F.col("lang") == "")
        out = out.withColumn(
            "lang",
            F.when(
                missing,
                F.coalesce(
                    detect_lang_udf(F.when(missing, F.col("content"))),
                    F.lit("und"),
                ),
            ).otherwise(F.col("lang")),
        )
    return out
