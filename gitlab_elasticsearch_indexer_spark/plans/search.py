"""Search API over a committed index snapshot (reference entry point 3,
SURVEY.md §3.3 — the ES query contract, served natively).

``Searcher`` loads the catalog once and serves top-k queries through one of
three paths (``profile["path"]``), chosen by ``mode``, ``doc_filter`` and
index size alone:

- ``local``: ``mode="blockmax"`` (default) on an index of at most
  ``RANGE_BATCH`` docid_ranges (ceil(n_docs / docs_per_range), from the
  catalog) without a ``doc_filter``.  The query's blocks are read with
  pyarrow and scored in process by one call of the block-max kernel
  (operators/local_search.py); the result is a DataFrame whose rows stay
  in the driver (operators/search.HitsFrame): ``search()``, ``collect()``
  and ``schema`` make no py4j call, and its JVM frame is built only when a
  Spark operation needs it, so the query launches no Spark job.  The state
  it needs is loaded at open with pyarrow: opening a local-eligible index
  launches no Spark job either.
- ``blockmax``: the same kernel driven by Spark with range-level θ-pruning
  (operators/wand.py) — larger indexes, and any ``doc_filter``.  This path
  and the exhaustive one read the ``segments``, ``term_stats`` and ``docs``
  DataFrames, built (and the last two cached) on first use.
- ``exhaustive``: pure-DataFrame scorer (operators/search.py) — the
  oracle-verifiable path; rank-identical by construction.

``operator`` applies on each path: ``"or"`` (the ES match default) scores
every doc holding a query term, ``"and"`` only docs holding all of them —
the local and blockmax paths pass it to the range kernel as
``require_all``, the exhaustive scorer filters on its matched-term count.

``phrase_search`` routes the same way (``_top_k``) to ``local`` or
``blockmax``: the range kernel scores the phrase as an ``and`` query of its
terms and keeps the docs holding its token sequence (operators/wand.py; no
block-level skipping for two or more tokens).  ``k < 1`` raises.

``search(..., profile={})`` fills the dict with the path, the analyzed
``terms``, ``ranges_scored`` (None on the exhaustive scorer) and wall ms per
phase: ``analyze_ms``, ``read_ms`` (local path only: on Spark the block read
happens inside the scoring jobs), ``score_ms`` and ``result_ms`` (about 0
on the local path: its result frame is built in the driver).
"""

from __future__ import annotations

import time
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.local_search import LocalIndex
from ..operators.search import (
    HITS,
    HITS_WITH_DOCS,
    analyze_query,
    analyze_query_seq,
    hits_frame,
    search_exhaustive,
)
from ..operators.wand import RANGE_BATCH, search_blockmax
from ..sources import catalog as cat


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        snapshot: str | None = None,
        allow_analyzer_mismatch: bool = False,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.catalog = cat.read_catalog(index_dir, snapshot)
        self._check_analyzer_version(allow_analyzer_mismatch)
        self.n_ranges = -(-max(self.catalog.n_docs, 1) // self.catalog.docs_per_range)
        # small index: the blockmax path is served in process (module doc)
        self.local = LocalIndex(index_dir, self.catalog) if self.n_ranges <= RANGE_BATCH else None

    # The Spark-side tables: built on first use (a blockmax or exhaustive
    # query, highlight, a caller), so opening a local-eligible index reads
    # no table with Spark and launches no job.
    @cached_property
    def segments(self) -> DataFrame:
        return cat.read_table(self.spark, self.index_dir, "segments", self.catalog.snapshot)

    @cached_property
    def term_stats(self) -> DataFrame:
        return cat.read_table(self.spark, self.index_dir, "term_stats", self.catalog.snapshot).cache()

    @cached_property
    def docs(self) -> DataFrame:
        """Metadata + per-field dl columns, cached: ``content`` is the doc
        body — at corpus scale caching it would hold ~the whole corpus in
        executor memory for queries that never read it.  Display/snippet
        columns are fetched per result page (``docs_content``)."""
        return cat.read_table(
            self.spark, self.index_dir, "docs", self.catalog.snapshot
        ).drop("content").cache()

    def _check_analyzer_version(self, allow_mismatch: bool) -> None:
        """Refuse to search an index whose analyzer implementation differs
        from the current code's: query terms would be stemmed/tokenized
        differently than the stored postings — silent wrong results (the
        catalog used to record only the analyzer NAME, which stayed
        'default' across the r1→r2 EnglishMinimalStemmer→KStem change).
        Every analyzed chain is checked: extra fields are analyzed at query
        time too."""
        for analyzer, stored, current in self.catalog.analyzer_mismatches():
            if stored is None:  # built before versions were recorded
                continue
            msg = (
                f"index {self.index_dir!r} was built with analyzer "
                f"{analyzer!r} version {stored!r}, but this code "
                f"implements version {current!r}; query-time analysis would "
                "not match the stored postings. Rebuild the index, or pass "
                "allow_analyzer_mismatch=True to search anyway."
            )
            if allow_mismatch:
                import warnings

                warnings.warn(msg)
            else:
                raise ValueError(msg)

    def docs_content(self) -> DataFrame:
        """(docid, content) — lazy, uncached: the display/snippet fetch path.
        Parquet column pruning keeps this a 2-column scan; callers join it
        per result page rather than holding content in the serving cache."""
        return cat.read_table(
            self.spark, self.index_dir, "docs", self.catalog.snapshot
        ).select("docid", "content")

    def _field_conf(self, field: str) -> tuple[str, str, float, str]:
        """→ (analyzer, term_prefix, avgdl, dl_col) for a field (reference:
        per-field analyzers in the mapping, elastic/index.go:115-146)."""
        if field == "content":
            return self.catalog.analyzer, "", self.catalog.avgdl, "dl"
        meta = (self.catalog.fields or {}).get(field)
        if meta is None:
            raise ValueError(f"field {field!r} not indexed")
        from .build_index import FIELD_SEP

        return meta["analyzer"], field + FIELD_SEP, float(meta["avgdl"]), meta["dl_col"]

    def query_terms(self, query: str, field: str = "content") -> list[str]:
        analyzer, prefix, _, _ = self._field_conf(field)
        return [prefix + t for t in analyze_query(query, analyzer)]

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "blockmax",
        doc_filter: Column | None = None,
        with_docs: bool = True,
        field: str = "content",
        operator: str = "or",
        profile: dict | None = None,
    ) -> DataFrame:
        """``mode``: 'blockmax' or 'exhaustive'; ``operator``: 'or' or 'and'
        (module doc).  ``profile``: optional dict filled as the module doc
        describes."""
        if mode not in ("blockmax", "exhaustive"):
            raise ValueError(f"mode must be 'blockmax' or 'exhaustive', not {mode!r}")
        if operator not in ("or", "and"):
            raise ValueError(f"operator must be 'or' or 'and', not {operator!r}")
        t0 = time.perf_counter()
        return self._top_k(
            self.query_terms(query, field), k, field, t0, mode=mode, doc_filter=doc_filter,
            with_docs=with_docs, require_all=operator == "and", profile=profile,
        )

    def phrase_search(self, phrase: str, k: int = 10, field: str = "content") -> DataFrame:
        """Positions-based phrase query (requires with_positions index) →
        (docid, score): docs holding the analyzed token sequence at
        consecutive positions (repeats kept: "data data" needs two adjacent
        occurrences), ranked by the BM25 of its distinct terms.

        ``field``: phrase over an extra field's namespaced postings — the
        ES ``match_phrase`` on a sub-field (per-field analyzers,
        elastic/index.go:115-146): the field's analyzer and ``<field>\\x1f``
        prefix scope both the adjacency check and the scoring."""
        if not self.catalog.with_positions:
            raise ValueError("index was built without positions")
        t0 = time.perf_counter()
        analyzer, prefix, _, _ = self._field_conf(field)
        seq = [prefix + t for t in analyze_query_seq(phrase, analyzer)]
        # one token: the adjacency check holds trivially, an `or` query
        return self._top_k(
            list(dict.fromkeys(seq)), k, field, t0, require_all=True,
            phrase=seq if len(seq) > 1 else None,
        )

    def _top_k(
        self, terms: list[str], k: int, field: str, t0: float, mode: str = "blockmax",
        doc_filter: Column | None = None, with_docs: bool = False, require_all: bool = False,
        phrase: list[str] | None = None, profile: dict | None = None,
    ) -> DataFrame:
        """Route analyzed ``terms`` to a path (module doc) and score them."""
        if k < 1:
            raise ValueError(f"k must be at least 1, not {k!r}")
        prof = {} if profile is None else profile
        _, _, avgdl, dl_col = self._field_conf(field)
        if mode == "exhaustive":
            path = "exhaustive"
        elif self.local is not None and doc_filter is None:
            path = "local"
        else:
            path = "blockmax"
        t1 = time.perf_counter()
        prof.update(
            path=path, terms=terms, analyze_ms=(t1 - t0) * 1000,
            ranges_scored=None if path == "exhaustive" else 0,
        )

        if path == "local":
            table = self.local.search(
                terms, k, avgdl, dl_col, with_docs, prof, require_all, phrase
            )
            t2 = time.perf_counter()
            out = hits_frame(self.spark, table, HITS_WITH_DOCS if with_docs else HITS)
            prof["result_ms"] = (time.perf_counter() - t2) * 1000
            return out

        docs_side = self.docs
        if dl_col != "dl":
            docs_side = docs_side.withColumn("dl", F.col(dl_col))
        if path == "blockmax":
            hits = search_blockmax(
                self.spark, self.segments, self.term_stats, docs_side, terms, k,
                avgdl, doc_filter, n_ranges_hint=self.n_ranges, profile=prof,
                require_all=require_all, phrase=phrase,
            )
        else:
            hits = search_exhaustive(
                self.segments, self.term_stats, docs_side, terms, k, avgdl,
                doc_filter, require_all=require_all,
            )
        t2 = time.perf_counter()
        prof["score_ms"] = (t2 - t1) * 1000
        if with_docs:
            hits = hits.join(
                self.docs.select("docid", "url", "lang"), "docid", "left"
            ).orderBy(F.desc("score"), F.asc("docid"))
        prof["result_ms"] = (time.perf_counter() - t2) * 1000
        return hits

    def highlight(self, term: str, window: int = 30) -> DataFrame:
        """(docid, start, end, snippet) for every occurrence of ``term`` —
        spans decoded from the stored offsets payload, snippets cut with
        JVM substrings (requires with_offsets index; ES highlighting
        analog, elastic/index.go:208-218)."""
        if not self.catalog.with_offsets:
            raise ValueError("index was built without offsets")
        from ..operators.highlight import highlight_term

        analyzed = analyze_query_seq(term, self.catalog.analyzer)
        if len(analyzed) != 1:
            raise ValueError("highlight takes a single term")
        return highlight_term(
            self.segments, self.docs_content(), analyzed[0], window=window
        )

    def lookup(self, doc_id: str) -> DataFrame:
        """Point GET by document id (reference test-only read path,
        elastic/client.go:231-246) — K8.  Reads the uncached table so the
        full document (including content) comes back; the id predicate is
        pushed to the parquet scan."""
        return cat.read_table(
            self.spark, self.index_dir, "docs", self.catalog.snapshot
        ).filter(F.col("id") == doc_id)
