"""In-process driver of the block-max range kernel (operators/wand.py) for
indexes of at most RANGE_BATCH docid_ranges.

At that size a Spark scoring job costs far more than the work it does: the
query's blocks are a few hundred KB of parquet.  ``LocalIndex`` reads them
with ``pyarrow.dataset`` — the hive ``bucket`` partitions the query terms
route to, plus a ``term`` filter pushed to the row groups — and scores
them with ONE call of the ``score_range`` kernel the Spark driver runs
inside ``applyInPandas``: every docid_range the query reads in one batch,
validated against the whole live-docid array.  Per query the driver only
decodes and scores blocks: no Spark job, no per-range, per-block or
per-posting Python.

Everything is loaded once at open and read-only afterwards, so concurrent
``search`` calls from several threads share one instance:

- a ``pyarrow.dataset`` over each chained snapshot's segments, with the
  docid_ranges a newer snapshot claims (sources/catalog.chain_claims);
- the live docs' ``docid`` (sorted), ``dl`` and every extra field's dl
  column as numpy arrays, plus ``url``/``lang`` for result rows;
- term → idf as a sorted term array and its idf array.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ..config import DOCS_PER_RANGE
from ..sources import catalog as cat
from .search import query_buckets
from .wand import BLOCK_COLS, PHRASE_COLS, score_range


def _read_only(a: np.ndarray) -> np.ndarray:
    a.flags.writeable = False
    return a


class LocalIndex:
    def __init__(self, index_dir: str, catalog: cat.Catalog):
        dl_cols = ["dl"] + [m["dl_col"] for m in (catalog.fields or {}).values()]
        self.segments: list[tuple[ds.Dataset, list[int]]] = []
        doc_parts = []
        for snap, claimed in cat.chain_claims(index_dir, catalog.snapshot):
            self.segments.append((
                ds.dataset(cat.table_path(index_dir, "segments", snap),
                           format="parquet", partitioning="hive"),
                claimed,
            ))
            docs = ds.dataset(cat.table_path(index_dir, "docs", snap), format="parquet")
            rng = pc.divide(ds.field("docid"), pa.scalar(DOCS_PER_RANGE, pa.int64()))
            doc_parts.append(docs.to_table(
                columns=["docid", *dl_cols, "url", "lang"],
                filter=~rng.isin(claimed) if claimed else None,
            ))
        docs = pa.concat_tables(doc_parts, promote_options="permissive").sort_by("docid")
        self.docid = _read_only(docs["docid"].to_numpy())
        self.dl = {c: _read_only(docs[c].to_numpy()) for c in dl_cols}
        self.doc_meta = docs.select(["url", "lang"]).combine_chunks()

        ts = pq.read_table(
            cat.table_path(index_dir, "term_stats", catalog.snapshot), columns=["term", "idf"]
        ).sort_by("term")
        self.terms = _read_only(ts["term"].to_numpy())
        self.idf = _read_only(ts["idf"].to_numpy())

    def idf_of(self, terms: list[str]) -> dict[str, float]:
        """term → idf for the query terms the index holds."""
        if not terms or not len(self.terms):
            return {}
        pos = np.minimum(np.searchsorted(self.terms, terms), len(self.terms) - 1)
        return {t: float(self.idf[p]) for t, p in zip(terms, pos) if self.terms[p] == t}

    def read_blocks(self, terms: list[str], cols: list[str] = BLOCK_COLS) -> pa.Table:
        """The terms' blocks (``cols``) of the live docid_ranges, across the chain."""
        want = ds.field("bucket").isin(query_buckets(terms)) & ds.field("term").isin(terms)
        parts = [
            seg.to_table(
                columns=["docid_range", *cols],
                filter=want & ~ds.field("docid_range").isin(claimed) if claimed else want,
            )
            for seg, claimed in self.segments
        ]
        return pa.concat_tables(parts, promote_options="permissive")

    def search(
        self, terms: list[str], k: int, avgdl: float, dl_col: str,
        with_docs: bool, profile: dict, require_all: bool = False,
        phrase: list[str] | None = None,
    ) -> pa.Table:
        """→ (docid, score[, url, lang]) top-k, (score desc, docid asc);
        ``require_all`` and ``phrase`` as in wand.score_range."""
        t0 = time.perf_counter()
        idf_by_term = self.idf_of(terms)
        if require_all and len(idf_by_term) < len(set(terms)):
            idf_by_term = {}  # a term the index lacks: no doc has them all
        cols = PHRASE_COLS if phrase else BLOCK_COLS
        blocks = self.read_blocks(list(idf_by_term), cols) if idf_by_term else None
        t1 = time.perf_counter()
        docids, scores = np.empty(0, np.int64), np.empty(0, np.float64)
        n_ranges = 0
        if blocks is not None and blocks.num_rows:
            n_ranges = pc.count_distinct(blocks["docid_range"]).as_py()
            docids, scores = score_range(
                blocks, self.docid, self.dl[dl_col], idf_by_term, avgdl, k, require_all, phrase
            )
        profile.update(
            ranges_scored=n_ranges,
            read_ms=(t1 - t0) * 1000,
            score_ms=(time.perf_counter() - t1) * 1000,
        )
        out = pa.table({"docid": docids, "score": scores})
        if with_docs:
            meta = self.doc_meta.take(np.searchsorted(self.docid, docids))
            out = out.append_column("url", meta["url"]).append_column("lang", meta["lang"])
        return out
