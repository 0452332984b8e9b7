"""gitlab_elasticsearch_indexer_spark — a PySpark-native full-text index +
BM25 query engine with the capabilities of gitlab-elasticsearch-indexer.

The reference (``/root/reference``, Go) is a document-extraction pipeline that
delegates inverted-index construction and BM25 top-k scoring to
Elasticsearch/Lucene.  This package re-expresses BOTH halves Spark-first:

- ``sources``    — page-table synthesis + readers (reference: git/gitaly.go)
- ``functions``  — pure, vectorized per-document transforms: analyzers,
                   transcoding, IDs, BM25 math, posting-block codec
                   (reference: indexer/*.go, elastic/index.go analyzers)
- ``operators``  — DataFrame-level operators: doc build, tokenize, posting
                   build, search (exhaustive + block-max), dedup, ANN,
                   text-stats (reference: indexer/indexer.go + Lucene-side)
- ``plans``      — end-to-end jobs: build_index, search, incremental merge
                   (reference: main.go entry points)
- ``streaming``  — Structured Streaming incremental indexing (beyond the
                   reference, which is batch snapshot-diff only)

Nothing here is a port: every operator is declared with the DataFrame API so
Catalyst/Tungsten pick the physical plan; per-row logic lives exclusively in
Arrow-vectorized pandas UDFs (no row-at-a-time Python anywhere).
"""

__version__ = "0.5.0"  # segments drop the build-time block score; uax29c chains
