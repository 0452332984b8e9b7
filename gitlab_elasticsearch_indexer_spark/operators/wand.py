"""Block-max top-k retrieval (SURVEY.md Q5 — the WAND-style skipping Lucene
performs, lifted onto Spark's execution model).

One range kernel (``score_range``: exact BM25 top-k of one docid_range's
blocks), two drivers: in process for an index of at most RANGE_BATCH ranges
(operators/local_search.py, no Spark job per query), and ``search_blockmax``
on Spark for larger indexes or a ``doc_filter``, skipping at two
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

2. **Block-level skipping (within a range, single-term queries, both
   drivers).**  Blocks sorted by bm25(idf, max_tf, min_dl) descending (at
   the current avgdl); once k local hits exist and the next block's bound
   is below the local k-th score, remaining blocks are not decoded.  (Multi-term queries score the range's
   candidate blocks with one vectorized numpy accumulation — exact, and
   still only the blocks of the query's terms.)

Conjunctive queries (``operator="and"``) run the same kernel with
``require_all``: a range lacking a query term returns before any decode, and
a doc scores only if its valid postings cover every term (one count from the
``np.unique`` that sums the scores).  A term without idf empties the query.

Phrase queries (``phrase``: the token sequence) are conjunctive queries plus
a positions check on the docs that pass the count (``_phrase_docids``; only
phrase queries read ``positions_enc``).  A phrase can reject a doc after it
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
    base: int,
    blocks: dict,
    dl_docids: np.ndarray,
    dl_vals: np.ndarray,
    idf_by_term: dict[str, float],
    avgdl: float,
    k: int,
    require_all: bool = False,
    phrase: list[str] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The range kernel: exact BM25 top-k of one docid_range → (docids,
    scores) ordered (score desc, docid asc).

    ``blocks`` maps each of BLOCK_COLS (PHRASE_COLS for a phrase) to the
    range's block column (numpy arrays; the *_enc columns hold bytes);
    ``dl_docids`` (sorted) and ``dl_vals`` are the range's docs after any
    metadata filter — postings of docs not listed there never score, nor,
    under ``require_all`` (``operator="and"``), docs lacking a term of
    ``idf_by_term``, nor, under a ``phrase`` (2+ of those terms, in order),
    docs not holding it."""
    empty = np.empty(0, np.int64), np.empty(0, np.float64)
    terms = blocks["term"]
    if len(terms) == 0 or len(dl_docids) == 0:
        return empty
    require_all = require_all or phrase is not None
    n_terms = len(set(terms))
    if require_all and n_terms < len(idf_by_term):
        return empty  # a query term has no block in this range
    idf = np.array([idf_by_term[t] for t in terms], dtype=np.float64)
    single_term = n_terms == 1 and phrase is None  # skipping: see module doc
    if single_term:
        bound = bm25(
            idf,
            np.asarray(blocks["max_tf"], dtype=np.float64),
            np.asarray(blocks["min_dl"], dtype=np.float64),
            avgdl,
        )
        order = np.argsort(-bound, kind="stable")
    else:
        # term order: every doc sums its per-term scores in the same order,
        # so equal true scores stay bitwise equal whatever the block order
        order = np.argsort(terms, kind="stable")

    all_docids: list[np.ndarray] = []
    all_scores: list[np.ndarray] = []
    decoded: list[tuple[int, np.ndarray, np.ndarray]] = []  # phrase only
    top = np.empty(0, np.float64)  # local top-k scores, single-term skipping only
    kth = -np.inf
    for i in order:
        if single_term and bound[i] < kth:
            break  # block-max skip: no remaining block can enter top-k
        n = int(blocks["n_docs"][i])
        docids = codec.decode_docids(blocks["docids_enc"][i], base=base, count=n)
        tfs = codec.decode_tfs(blocks["tfs_enc"][i], count=n)
        pos = np.searchsorted(dl_docids, docids)
        valid = (pos < len(dl_docids)) & (
            dl_docids[np.clip(pos, 0, len(dl_docids) - 1)] == docids
        )
        if not valid.any():
            continue
        if phrase is not None:
            decoded.append((i, docids, tfs))
        docids, tfs, pos = docids[valid], tfs[valid].astype(np.float64), pos[valid]
        dl = dl_vals[pos].astype(np.float64)
        scores = bm25(idf[i], tfs, dl, avgdl)
        all_docids.append(docids)
        all_scores.append(scores)
        if single_term:
            top = np.concatenate([top, scores])
            if len(top) >= k:
                top = np.partition(top, len(top) - k)[-k:]
                kth = top[0]

    if not all_docids:
        return empty
    uniq, inv, *counts = np.unique(
        np.concatenate(all_docids), return_inverse=True, return_counts=require_all
    )
    totals = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(totals, inv, np.concatenate(all_scores))
    if require_all:  # one posting per (doc, term) in a range: count = terms matched
        full = counts[0] == n_terms
        uniq, totals = uniq[full], totals[full]
    if phrase is not None and len(uniq):
        held = np.isin(uniq, _phrase_docids(base, blocks, decoded, uniq, phrase))
        uniq, totals = uniq[held], totals[held]
    return top_k(uniq, totals, k)


def _phrase_docids(base, blocks, decoded, candidates, phrase) -> np.ndarray:
    """The ``candidates`` holding ``phrase`` at consecutive positions: token
    j at position p keys (doc, p - j), and a doc matches where one key is
    shared by every token — a sorted intersection per token, so "value
    value" needs two adjacent values.  ``decoded`` lists (block, docids,
    tfs); only blocks holding a candidate decode their positions."""
    keys_of: dict[str, list[np.ndarray]] = {}
    for i, docids, tfs in decoded:
        hit = np.repeat(np.isin(docids, candidates), tfs)
        if hit.any():  # key: local docid in the high bits, position + n below
            pos = codec.decode_positions(blocks["positions_enc"][i], tfs)
            key = (np.repeat(docids - base, tfs) << 32) + pos + len(phrase)
            keys_of.setdefault(blocks["term"][i], []).append(key[hit])
    keys = np.concatenate(keys_of[phrase[0]])
    for j, t in enumerate(phrase[1:], 1):
        keys = np.intersect1d(keys, np.concatenate(keys_of[t]) - j, assume_unique=True)
    return (keys >> 32) + base


def top_k(docids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The k best (docid, score) pairs in exact (score desc, docid asc) order."""
    if len(docids) > k:
        part = np.argpartition(-scores, k - 1)[:k]
        order = part[np.lexsort((docids[part], -scores[part]))]
    else:
        order = np.lexsort((docids, -scores))
    return docids[order], scores[order]


def score_batch(
    segments: DataFrame, docs: DataFrame, idf_by_term: dict[str, float], avgdl: float,
    k: int, batch: list[int], require_all: bool = False, phrase: list[str] | None = None,
) -> DataFrame:
    """One Spark scoring batch → (docid, score) top-k of each of ``batch``'s
    docid_ranges: the terms' blocks cogrouped with ``docs`` (docid, dl, after
    any metadata filter) on docid_range, each group scored by the range
    kernel in ``applyInPandas``."""
    cols = PHRASE_COLS if phrase else BLOCK_COLS
    seg = filter_segments_for_terms(segments, list(idf_by_term)).select("docid_range", *cols)
    in_range = (F.col("docid") / F.lit(DOCS_PER_RANGE)).cast("long").alias("docid_range")
    doc_side = docs.select("docid", "dl", in_range)

    def score_range_pdf(key, seg_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(seg_pdf) == 0 or len(docs_pdf) == 0:  # a side may lack columns
            return pd.DataFrame({"docid": np.empty(0, np.int64), "score": np.empty(0)})
        dl_docids = docs_pdf["docid"].to_numpy(dtype=np.int64)
        dl_order = np.argsort(dl_docids)
        docids, scores = score_range(
            int(key[0]) * DOCS_PER_RANGE,
            {c: seg_pdf[c].to_numpy() for c in cols},
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

    return hits_frame(spark, *best)
