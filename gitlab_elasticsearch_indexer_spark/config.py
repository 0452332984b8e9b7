"""Engine constants.

Mirrors the reference's operational parameters (see BASELINE.md):

- ``LIMIT_FILE_SIZE``   — reference ``defaultLimitFileSize`` 1 MiB
                          (git/gitaly.go:32); content above this is skipped,
                          the document is kept metadata-only.
- ``BINARY_SNIFF_LIMIT``— reference ``binarySearchLimit`` 8 KiB
                          (indexer/blob.go:20): NUL byte in the first 8 KiB
                          ⇒ binary ⇒ content not indexed.
- ``MAX_ID_BYTES``      — Elasticsearch doc-ID limit, 512 bytes
                          (indexer/blob.go:48-58); longer ⇒ sha1 fallback.
- ``BM25_K1``/``BM25_B``— Lucene defaults; the reference mapping sets no
                          similarity override (elastic/index.go:97-345).

Index-layout constants are ours (the reference delegates these to Lucene):

- ``BLOCK_SIZE``        — postings per compressed block (Lucene uses 128).
- ``DOCS_PER_RANGE``    — docid-range width. Posting construction groups by
                          ``(term, docid_range)`` so a Zipf head term is
                          split across ranges: this is the *explicit salting*
                          required at scale (SURVEY.md O11) — no single
                          shuffle key ever holds more than DOCS_PER_RANGE
                          postings. Query-time top-k parallelizes over the
                          same ranges.
- ``N_TERM_BUCKETS``    — hash-bucket partition count for the segments
                          table: the Spark analog of ES routing-based shard
                          pruning (elastic/index.go:90-92) — query terms
                          hash to buckets, scans prune the rest.
"""

# Reference-mirrored parameters
LIMIT_FILE_SIZE = 1024 * 1024        # bytes of html above which content is skipped
BINARY_SNIFF_LIMIT = 8 * 1024        # NUL-sniff window
MAX_ID_BYTES = 512                   # doc-ID length limit before sha1 fallback
DEFAULT_LANGUAGE = "Text"            # indexer/blob.go:21
BM25_K1 = 1.2
BM25_B = 0.75

# Index layout (ours)
BLOCK_SIZE = 128                     # postings per block (docid-delta varint)
DOCS_PER_RANGE = 8192                # docid-range width = explicit salt unit
N_TERM_BUCKETS = 64                  # segment partition buckets (term routing)

# Analyzer names (elastic/index.go:29-62)
ANALYZER_SIMPLE = "simple"           # lowercase + [a-z0-9]+ (oracle-friendly)

ELASTIC_TIME_FORMAT = "yyyyMMdd'T'HHmmssZ"   # indexer/person.go:10 (%Y%m%dT%H%M%S%z)
