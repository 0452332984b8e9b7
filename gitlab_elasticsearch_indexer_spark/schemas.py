"""Fixed StructType schemas: the page input tables (``PAGES``,
``PAGES_DELTA``), the posting segments (``SEGMENTS``) and the build lineage
(``LINEAGE``).

The reference enforces ``"dynamic": "strict"`` on its index mapping
(elastic/index.go:89) — any unmapped field is a hard error.  We get the same
guarantee for these tables by declaring explicit StructTypes and never
relying on inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),   # golden extracted text
        T.StructField("lang", T.StringType(), True),
    ]
)

# Incremental input: pages + change op (reference RawChange, git/gitaly.go:186-215)
PAGES_DELTA = T.StructType(
    PAGES.fields
    + [
        T.StructField("op", T.StringType(), False),      # ADDED/MODIFIED/COPIED/RENAMED/DELETED
        T.StructField("old_url", T.StringType(), True),  # for RENAMED/DELETED
    ]
)

# Compressed posting segments: one row per 128-posting block.
# bucket     — hash(term) % N_TERM_BUCKETS: partition column, pruned at query
#              time (Spark analog of ES routing, elastic/index.go:90-92).
# docid_range— docid >> log2(DOCS_PER_RANGE): explicit salt for head terms +
#              the unit of query-time parallelism.
# max_tf, min_dl — block-max metadata: functions/bm25.bm25(idf, max_tf,
#              min_dl) at the query's avgdl is the block's BM25 upper bound
#              (block-max WAND).
SEGMENTS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("docid_range", T.LongType(), False),
        T.StructField("block_idx", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("max_docid", T.LongType(), False),   # skip pointer
        # Block-max bound is derived at query time as the scoring
        # expression at (max_tf, min_dl, current avgdl) — the score is
        # monotone ↑ in tf and ↓ in dl, so (max_tf, min_dl) gives a true upper
        # bound that stays valid when incremental updates shift avgdl.
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),  # → term_stats.cf without re-scan
        # tagged codec payloads (functions/codec.py): FOR bit-packing, or
        # varint when a value needs more than 32 bits
        T.StructField("docids_enc", T.BinaryType(), False),  # docid deltas
        T.StructField("tfs_enc", T.BinaryType(), False),     # tfs
        T.StructField("positions_enc", T.BinaryType(), True),  # optional, per-field index_options
        T.StructField("offsets_enc", T.BinaryType(), True),    # optional, index_options=offsets
    ]
)

# Per-partition lineage for checkpointed resume (SURVEY.md O1/O7)
LINEAGE = T.StructType(
    [
        T.StructField("partition_key", T.StringType(), False),  # e.g. docid_range
        T.StructField("from_snapshot", T.StringType(), True),
        T.StructField("to_snapshot", T.StringType(), True),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("status", T.StringType(), False),         # done / failed
        T.StructField("wall_ms", T.LongType(), False),
    ]
)
