"""Commit-style metadata documents (the reference's second doc type).

The reference indexes blobs AND commits: commit docs carry deterministic IDs
``<pid>_<sha>`` (indexer/commit.go:32-34), Person fields (name, email,
``%Y%m%dT%H%M%S%z`` time — indexer/person.go), a message, and the
permission ints every doc type shares (indexer/indexer.go:65-68); they are
routed to a SEPARATE index from blobs (elastic/client.go:60-62).

Here the commit analog is derived deterministically from the pages table
(every value a pure function of doc_id — same rank-identity discipline as
the pages synthesis); on a real deployment this operator's input is the
commit-log table and the expressions are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def meta_docs_from_pages(pages: DataFrame, project_id: int = 1) -> DataFrame:
    """pages (+ doc_id) → commit-style meta docs (P4/P8/Q7 fields).

    One meta doc per page: author Person synthesized from doc_id, sha from
    the url's sha1 (deterministic), authored_at on a fixed epoch + doc_id
    offset — all pure JVM column expressions."""
    pid = F.lit(project_id).cast("long")
    sha = F.sha1(F.col("url"))
    authored = F.expr(
        "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id*7)"
    )
    return pages.select(
        F.concat_ws("_", pid.cast("string"), sha).alias("id"),
        F.col("doc_id").cast("long").alias("docid"),
        sha.alias("sha"),
        F.concat(F.lit("Author "), (F.col("doc_id") % 50).cast("string")).alias(
            "author_name"
        ),
        F.concat(
            F.lit("author"), (F.col("doc_id") % 50).cast("string"),
            F.lit("@example.com"),
        ).alias("author_email"),
        F.date_format(authored, "yyyyMMdd'T'HHmmssZ").alias("authored_at"),
        F.substring("text", 1, 80).alias("message"),
        ((F.col("doc_id") % 3) * 10).cast("int").alias("visibility_level"),
        ((F.col("doc_id") % 2) * 20).cast("int").alias("repository_access_level"),
    )
