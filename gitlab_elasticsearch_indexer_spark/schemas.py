"""Fixed StructType schemas for every table the engine reads or writes.

The reference enforces ``"dynamic": "strict"`` on its index mapping
(elastic/index.go:89) — any unmapped field is a hard error.  We get the same
guarantee by declaring explicit StructTypes and never relying on inference.
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

# ---------------------------------------------------------------------------
# Extracted documents (reference Blob doc, indexer/blob.go:24-46 + envelope
# indexer/indexer.go:44-99). Flat columns instead of the nested envelope —
# parent-child join_field becomes the denormalized project_id.
# ---------------------------------------------------------------------------
DOCS = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),    # dense, deterministic
        T.StructField("id", T.StringType(), False),     # "<pid>_<url>" w/ sha1 fallback
        T.StructField("project_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("file_name", T.StringType(), True),   # basename (indexer/blob.go:100)
        T.StructField("content", T.StringType(), True),     # "" for binary/too-large
        T.StructField("lang", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("warc_ts_fmt", T.StringType(), True),  # %Y%m%dT%H%M%S%z (person.go:10)
        T.StructField("is_binary", T.BooleanType(), True),
        T.StructField("too_large", T.BooleanType(), True),
        T.StructField("dl", T.IntegerType(), True),          # doc length in tokens
        T.StructField("visibility_level", T.IntegerType(), True),
        T.StructField("repository_access_level", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Token / posting intermediates
# ---------------------------------------------------------------------------
TOKENS = T.StructType(  # flat (docid, term, tf, dl) — input to posting build
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

# Compressed posting segments: one row per 128-posting block.
# bucket     — hash(term) % N_TERM_BUCKETS: partition column, pruned at query
#              time (Spark analog of ES routing, elastic/index.go:90-92).
# docid_range— docid >> log2(DOCS_PER_RANGE): explicit salt for head terms +
#              the unit of query-time parallelism.
# max_tf, min_dl — block-max metadata: idf * tfn(max_tf, min_dl) at the
#              query's avgdl is the block's BM25 upper bound (block-max WAND).
# max_tfn    — block-max of tf/(tf+k1*(1-b+b*dl/avgdl)) at build-time avgdl;
#              a build-time diagnostic, never read by queries.
SEGMENTS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("docid_range", T.LongType(), False),
        T.StructField("block_idx", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("max_docid", T.LongType(), False),   # skip pointer
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),  # → term_stats.cf without re-scan
        # Block-max bound is derived at query time as
        # idf * tfn(max_tf, min_dl, current avgdl) — tfn is monotone ↑ in tf
        # and ↓ in dl, so (max_tf, min_dl) gives a true upper bound that stays
        # valid when incremental updates shift the collection's avgdl
        # (stored max_tfn would go stale).
        T.StructField("max_tfn", T.DoubleType(), False),   # build-time diagnostic
        # tagged codec payloads (functions/codec.py): FOR bit-packing, or
        # varint when a value needs more than 32 bits
        T.StructField("docids_enc", T.BinaryType(), False),  # docid deltas
        T.StructField("tfs_enc", T.BinaryType(), False),     # tfs
        T.StructField("positions_enc", T.BinaryType(), True),  # optional, per-field index_options
        T.StructField("offsets_enc", T.BinaryType(), True),    # optional, index_options=offsets
    ]
)

TERM_STATS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("idf", T.DoubleType(), False),
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
