"""Block-max top-k retrieval (SURVEY.md Q5 — the WAND-style skipping Lucene
performs, lifted onto Spark's execution model).

One kernel (``score_range``: exact BM25 top-k of a batch of docid_ranges'
blocks, one call per query), two drivers: in process for an index of at
most RANGE_BATCH ranges (operators/local_search.py: one call over every
range the query reads, no Spark job), and ``search_blockmax`` on Spark for
larger indexes or a ``doc_filter`` (one call per range group of a
``score_batch`` cogroup).  The kernel decodes all of its blocks in one
numpy pass (``codec.for_unpack_blocks`` over the Arrow payload buffers, a
segmented cumsum for docids, one ``searchsorted`` against the live docids)
— no per-range or per-block Python loop.  Skipping happens at two
granularities that ARE Spark-friendly:

1. **Range-level skipping (distributed).**  Per docid_range,
   ``bound(range) = Σ_t max_block(bm25(idf_t, max_tf, min_dl))`` is aggregated
   SPARK-SIDE from segment *metadata only* (a few bytes per block — no
   posting bytes read); the driver collects just the per-range aggregate —
   or, above ``super_threshold`` ranges, only per-SUPER-range maxima with
   members fetched lazily, so driver memory stays bounded at 10^12 docs.
   Ranges are processed in descending-bound batches; after each batch the
   k-th best score so far is the threshold θ, and every remaining range
   with bound < θ is skipped without ever being scanned.  This is
   block-max pruning at the unit of parallelism: batches fan out as one
   Spark job over the pruned parquet partitions.

2. **Block-level skipping (single-term queries, both drivers).**  Blocks
   sorted by bm25(idf, max_tf, min_dl) descending (at the current avgdl)
   decode in rounds of doubling size, the first holding k postings; once k
   hits exist, blocks whose bound is below the k-th score are not decoded
   (``_skip_blocks``).  Multi-term queries score all their blocks in one
   pass, summing each doc's per-term scores in term order so equal true
   scores keep equal bits — exact, and still only the blocks of the
   query's terms.

Conjunctive queries (``operator="and"``) run the same kernel with
``require_all``: the blocks of a range lacking a query term are dropped
before any decode, and a doc scores only if its valid postings cover every
term (one count from the ``np.unique`` that sums the scores).  A term
without idf empties the query.

Phrase queries (``phrase``: the token sequence) are conjunctive queries plus
a positions check on the docs that pass the count (``_phrase_candidates``:
the candidates' blocks' positions decode as one LEB128 stream; only phrase
queries read ``positions_enc``).  A phrase can reject a doc after it
scored, so block-level skipping is off for two or more tokens, one repeated
term included; range-level pruning stays exact (a phrase scores ≤ ``or``).

Safety: a bound is the scoring expression itself (functions/bm25.bm25)
evaluated at a block's (max_tf, min_dl), so it rounds exactly like the
score of a posting with that tf and dl and never falls below a score it
covers, not even by one ulp on a tie; every driver is rank-identical to the
exhaustive scorer — asserted in tests/test_pipeline.py and
tests/test_local_search.py.

The Spark driver scores a batch of ranges with ``score_batch``: a
``cogroup(segments, docs).applyInPandas`` on docid_range — both sides are
partitioned by the same key, and the optional metadata filter (Q7: lang /
permission ints) is applied to the docs side *before* the cogroup so
filtered docs never score.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DOCS_PER_RANGE
from ..functions import codec
from ..functions.bm25 import bm25
from .search import HITS, filter_segments_for_terms, hits_frame

# block columns the range kernel reads: positions are decoded only under a
# phrase and offsets never, so neither driver reads them otherwise
BLOCK_COLS = ["term", "n_docs", "max_tf", "min_dl", "docids_enc", "tfs_enc"]
PHRASE_COLS = BLOCK_COLS + ["positions_enc"]
# ranges scored per Spark batch; an index with at most this many ranges is
# served in process (plans/search.py) and never reaches search_blockmax
RANGE_BATCH = 256


def score_range(
    blocks: pa.Table,
    dl_docids: np.ndarray,
    dl_vals: np.ndarray,
    idf_by_term: dict[str, float],
    avgdl: float,
    k: int,
    require_all: bool = False,
    phrase: list[str] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The kernel: exact BM25 top-k of a batch of docid_ranges → (docids,
    scores) ordered (score desc, docid asc).

    ``blocks`` holds ``docid_range`` and BLOCK_COLS (PHRASE_COLS for a
    phrase) of the ranges' blocks; a block's docids are relative to its
    range's first docid.  ``dl_docids`` (sorted) and ``dl_vals`` are the
    docs that may score (the live docs, after any metadata filter) —
    postings of docs not listed there never score, nor, under
    ``require_all`` (``operator="and"``), docs lacking a term of
    ``idf_by_term``, nor, under a ``phrase`` (2+ of those terms, in order),
    docs not holding it.  All blocks decode in one numpy pass (block-max
    skipping: see the module doc)."""
    empty = np.empty(0, np.int64), np.empty(0, np.float64)
    if blocks.num_rows == 0 or len(dl_docids) == 0:
        return empty
    require_all = require_all or phrase is not None
    terms, tcode = np.unique(blocks["term"].to_numpy(), return_inverse=True)
    n_terms = len(terms)
    if require_all:
        if n_terms < len(idf_by_term):
            return empty  # a query term has no block at all
        # keep the ranges holding blocks of every term, before any decode
        rng = blocks["docid_range"].to_numpy()
        ranges, n_held = np.unique(np.unique(rng * n_terms + tcode) // n_terms, return_counts=True)
        full = np.isin(rng, ranges[n_held == n_terms])
        if not full.all():
            blocks, tcode = blocks.filter(full), tcode[full]
            if blocks.num_rows == 0:
                return empty
    idf = np.array([idf_by_term[t] for t in terms], dtype=np.float64)[tcode]
    live = dl_docids, dl_vals, avgdl
    if n_terms == 1 and phrase is None:
        return top_k(*_skip_blocks(blocks, idf, live, k), k)

    # term order: every doc sums its per-term scores in the same order, so
    # equal true scores stay bitwise equal whatever the block order
    order = np.argsort(tcode, kind="stable")
    blocks, tcode = blocks.take(order), tcode[order]
    docids, tfs, blk, valid, scores = _score_blocks(blocks, idf[order], live)
    uniq, inv, *counts = np.unique(docids[valid], return_inverse=True, return_counts=require_all)
    totals = np.bincount(inv, weights=scores, minlength=len(uniq))  # adds in posting order
    if require_all:  # one posting per (doc, term): count = terms matched
        full = counts[0] == n_terms
        uniq, totals = uniq[full], totals[full]
    if phrase is not None and len(uniq):
        held = _phrase_candidates(blocks, tcode, terms, docids, tfs, blk, uniq, phrase)
        uniq, totals = uniq[held], totals[held]
    return top_k(uniq, totals, k)


def _payloads(col) -> tuple[np.ndarray, np.ndarray]:
    """A binary column's value bytes and its ``len + 1`` offsets into them,
    zero-copy from the Arrow buffers."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    _, offsets, data = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(offsets, width)[arr.offset: arr.offset + len(arr) + 1]
    return np.frombuffer(data, np.uint8) if data is not None else np.zeros(0, np.uint8), offsets


def _score_blocks(blocks: pa.Table, idf: np.ndarray, live: tuple):
    """Decode every posting of ``blocks`` in one pass → (docids, tfs, block
    of each posting, mask of the postings whose doc may score, scores of
    those postings)."""
    dl_docids, dl_vals, avgdl = live
    n = blocks["n_docs"].to_numpy().astype(np.int64)
    deltas, starts = codec.for_unpack_blocks(*_payloads(blocks["docids_enc"]), n)
    tfs = codec.for_unpack_blocks(*_payloads(blocks["tfs_enc"]), n)[0].astype(np.int64)
    blk = np.repeat(np.arange(len(n)), n)
    # segmented cumsum: each block restarts at its range's first docid
    run = np.cumsum(deltas.astype(np.int64))
    before = np.concatenate(([0], run))[starts]
    base = blocks["docid_range"].to_numpy().astype(np.int64) * DOCS_PER_RANGE
    docids = run + (base - before)[blk]
    pos = np.searchsorted(dl_docids, docids)
    valid = dl_docids[np.minimum(pos, len(dl_docids) - 1)] == docids
    tf = tfs[valid].astype(np.float64)
    scores = bm25(idf[blk[valid]], tf, dl_vals[pos[valid]].astype(np.float64), avgdl)
    return docids, tfs, blk, valid, scores


def _skip_blocks(blocks: pa.Table, idf: np.ndarray, live: tuple, k: int):
    """A single-term query's (docid, score) candidates with block-max
    skipping: blocks in descending bound order, decoded in rounds of
    doubling size (the first holds k postings); a round stops at the first
    block whose bound is below the k-th score so far."""
    bound = bm25(
        idf,
        blocks["max_tf"].to_numpy().astype(np.float64),
        blocks["min_dl"].to_numpy().astype(np.float64),
        live[2],
    )
    order = np.argsort(-bound, kind="stable")
    neg_bound = -bound[order]
    step = int(np.searchsorted(np.cumsum(blocks["n_docs"].to_numpy()[order]), k)) + 1
    docids, scores = [], []
    top, kth, taken = np.empty(0, np.float64), -np.inf, 0
    while True:
        # strict <: a block whose bound equals the k-th score may hold a tie
        end = min(taken + step, int(np.searchsorted(neg_bound, -kth, side="right")))
        if end <= taken:
            break
        sel = order[taken:end]
        d, _, blk, valid, s = _score_blocks(blocks.take(sel), idf[sel], live)
        docids.append(d[valid])
        scores.append(s)
        top = np.concatenate([top, s])
        if len(top) >= k:
            top = np.partition(top, len(top) - k)[-k:]
            kth = top[0]
        taken, step = end, 2 * step
    return np.concatenate(docids), np.concatenate(scores)


def _phrase_candidates(blocks, tcode, terms, docids, tfs, blk, candidates, phrase) -> np.ndarray:
    """Mask of the (sorted) ``candidates`` holding ``phrase`` at consecutive
    positions: token j at position p keys (candidate index, p - j), and a
    doc matches where one key is shared by every token — a sorted
    intersection per token, so "value value" needs two adjacent values.
    The positions of the blocks holding a candidate decode as one LEB128
    stream."""
    hit = np.isin(docids, candidates)
    holds = np.unique(blk[hit])
    mine = np.isin(blk, holds)
    data, offsets = _payloads(blocks["positions_enc"].take(holds))
    tf = tfs[mine]
    pos = codec.decode_positions(data[offsets[0]: offsets[-1]], tf)
    cand = np.searchsorted(candidates, docids[mine])
    key = np.repeat((cand << 32) + len(phrase), tf) + pos
    key_hit = np.repeat(hit[mine], tf)
    key_term = np.repeat(tcode[blk[mine]], tf)
    token = np.searchsorted(terms, phrase)
    keys = key[key_hit & (key_term == token[0])]
    for j in range(1, len(phrase)):
        keys = np.intersect1d(keys, key[key_hit & (key_term == token[j])] - j, assume_unique=True)
    held = np.zeros(len(candidates), dtype=bool)
    held[keys >> 32] = True
    return held


def top_k(docids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The k best (docid, score) pairs in exact (score desc, docid asc)
    order: every doc scoring at least the k-th score competes in the sort,
    so a tie across the k-th place keeps the lowest docids."""
    if len(docids) > k:
        keep = scores >= np.partition(scores, len(scores) - k)[len(scores) - k]
        docids, scores = docids[keep], scores[keep]
    order = np.lexsort((docids, -scores))[:k]
    return docids[order], scores[order]


def score_batch(
    segments: DataFrame, docs: DataFrame, idf_by_term: dict[str, float], avgdl: float,
    k: int, batch: list[int], require_all: bool = False, phrase: list[str] | None = None,
) -> DataFrame:
    """One Spark scoring batch → (docid, score) top-k of each of ``batch``'s
    docid_ranges: the terms' blocks cogrouped with ``docs`` (docid, dl, after
    any metadata filter) on docid_range, each group scored by one
    ``score_range`` call in ``applyInPandas``."""
    cols = PHRASE_COLS if phrase else BLOCK_COLS
    seg = filter_segments_for_terms(segments, list(idf_by_term)).select("docid_range", *cols)
    in_range = (F.col("docid") / F.lit(DOCS_PER_RANGE)).cast("long").alias("docid_range")
    doc_side = docs.select("docid", "dl", in_range)

    def score_range_pdf(seg_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(seg_pdf) == 0 or len(docs_pdf) == 0:  # a side may lack columns
            return pd.DataFrame({"docid": np.empty(0, np.int64), "score": np.empty(0)})
        dl_docids = docs_pdf["docid"].to_numpy(dtype=np.int64)
        dl_order = np.argsort(dl_docids)
        docids, scores = score_range(
            pa.Table.from_pandas(seg_pdf, preserve_index=False),
            dl_docids[dl_order],
            docs_pdf["dl"].to_numpy(dtype=np.int64)[dl_order],
            idf_by_term, avgdl, k, require_all, phrase,
        )
        return pd.DataFrame({"docid": docids, "score": scores})

    in_batch = F.col("docid_range").isin(batch)
    return (
        seg.filter(in_batch).groupBy("docid_range")
        .cogroup(doc_side.filter(in_batch).groupBy("docid_range"))
        .applyInPandas(score_range_pdf, schema=HITS)
    )


def _range_bounds_df(seg: DataFrame, stats_df: DataFrame, avgdl: float) -> DataFrame:
    """(docid_range, bound) computed ENTIRELY Spark-side from block metadata:
    per-(range, term) max of the block bounds, summed per range.  The driver
    never sees per-block rows — only the per-range aggregate (n_docs/8192
    rows), or per-super-range above that (see search_blockmax)."""
    bound = bm25(
        F.col("idf"),
        F.col("max_tf").cast("double"),
        F.col("min_dl").cast("double"),
        avgdl,
    )
    return (
        seg.join(F.broadcast(stats_df), "term")
        .groupBy("docid_range", "term")
        .agg(F.max(bound).alias("tb"))
        .groupBy("docid_range")
        .agg(F.sum("tb").alias("bound"))
    )


def search_blockmax(
    spark,
    segments: DataFrame,
    term_stats: DataFrame,
    docs: DataFrame,
    query_terms: list[str],
    k: int,
    avgdl: float,
    doc_filter: Column | None = None,
    range_batch: int = RANGE_BATCH,
    n_ranges_hint: int | None = None,
    super_shift: int = 10,
    super_threshold: int = 1 << 16,
    profile: dict | None = None,
    require_all: bool = False,
    phrase: list[str] | None = None,
) -> DataFrame:
    """→ (docid, score) top-k, rank-identical to search_exhaustive (with the
    same ``require_all``; a ``phrase``, passed with ``require_all``, keeps
    only the docs holding it, as in score_range).

    Two regimes, chosen by corpus size (``n_ranges_hint`` — callers pass
    ceil(n_docs / DOCS_PER_RANGE) from the catalog, so no job is needed to
    pick the path; indexes of at most RANGE_BATCH ranges are scored in
    process by operators/local_search.py instead):

    2. **default**: per-range bounds aggregated Spark-side
       (_range_bounds_df) and collected — n_docs/8192 rows, never per-block
       metadata — then descending-bound batches with θ-pruning.
    3. **hint > super_threshold** (default 65,536 ranges, ≈5·10^8 docs): two-level.
       Only per-SUPER-range bounds (ranges >> super_shift, 1024× fewer) are
       collected up front; each super batch lazily fetches its members'
       per-range bounds.  Driver memory is O(n_ranges / 1024 + batch),
       and a super-range whose best member bound < θ is skipped without
       ever fetching its members.

    ``profile`` (optional dict) receives skip telemetry:
    ``ranges_total`` / ``ranges_scored`` — the observable proof that
    θ-pruning is cutting work, used by tests and ops dashboards.
    """
    if not query_terms:
        return hits_frame(spark)

    stats_df = (
        term_stats.filter(F.col("term").isin(query_terms)).select("term", "idf")
    )
    stats = {r["term"]: float(r["idf"]) for r in stats_df.collect()}
    if not stats or (require_all and len(stats) < len(set(query_terms))):
        return hits_frame(spark)

    doc_side = docs if doc_filter is None else docs.filter(doc_filter)
    best = [np.empty(0, np.int64), np.empty(0, np.float64)]  # global top-k

    def kth() -> float:
        return best[1][-1] if len(best[1]) >= k else float("-inf")

    scored_count = [0]

    def run_batch(batch: list[int]) -> None:
        scored_count[0] += len(batch)
        part = score_batch(
            segments, doc_side, stats, avgdl, k, batch, require_all, phrase
        ).toPandas()
        best[:] = top_k(
            np.concatenate([best[0], part["docid"].to_numpy(dtype=np.int64)]),
            np.concatenate([best[1], part["score"].to_numpy(dtype=np.float64)]),
            k,
        )

    def process_ranges(ordered_ranges: list[int], bounds: dict[int, float]) -> None:
        """Descending-bound θ-pruned batch loop over one set of ranges."""
        i = 0
        while i < len(ordered_ranges):
            theta = kth()
            batch = []
            while i < len(ordered_ranges) and len(batch) < range_batch:
                rg = ordered_ranges[i]
                # strict <: a range whose bound equals θ could still contain
                # a score-tied doc winning the (score desc, docid asc) break
                if bounds[rg] < theta:
                    i = len(ordered_ranges)  # later ranges bound even lower
                    break
                batch.append(rg)
                i += 1
            if not batch:
                break
            run_batch(batch)

    two_level = n_ranges_hint is not None and n_ranges_hint > super_threshold
    rb = _range_bounds_df(filter_segments_for_terms(segments, list(stats)), stats_df, avgdl)
    n_total_ranges = 0
    if not two_level:
        # ---- regime 2: collect per-range bounds (one narrow agg job) ----
        bounds = {
            int(r["docid_range"]): float(r["bound"]) for r in rb.collect()
        }
        n_total_ranges = len(bounds)
        process_ranges(sorted(bounds, key=lambda rg: -bounds[rg]), bounds)
    else:
        # ---- regime 3: super-range level first, members fetched lazily ----
        rb = rb.cache()
        try:
            super_rows = (
                rb.groupBy(
                    F.shiftright(F.col("docid_range"), super_shift).alias("srange")
                )
                .agg(F.max("bound").alias("sbound"))
                .collect()
            )
            sbounds = {int(r["srange"]): float(r["sbound"]) for r in super_rows}
            for sr in sorted(sbounds, key=lambda s: -sbounds[s]):
                if sbounds[sr] < kth():
                    break  # no member of any later super-range can enter top-k
                member_rows = rb.filter(
                    F.shiftright(F.col("docid_range"), super_shift) == sr
                ).collect()
                bounds = {
                    int(r["docid_range"]): float(r["bound"]) for r in member_rows
                }
                n_total_ranges += len(bounds)
                process_ranges(sorted(bounds, key=lambda rg: -bounds[rg]), bounds)
        finally:
            rb.unpersist()

    if profile is not None:
        profile["ranges_total"] = n_total_ranges
        profile["ranges_scored"] = scored_count[0]

    return hits_frame(spark, pa.table({"docid": best[0], "score": best[1]}))
