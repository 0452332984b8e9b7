"""tokens → compressed posting segments + term stats (SURVEY.md Q1 — the
Lucene-side inverted-index build the reference delegates to Elasticsearch).

Shape of the build (ONE wide shuffle, all-numeric, chunk-vectorized
encoding, one SQL execution per segments write):

    token occurrences (docid, dl, term [, pos])
      ├─ term dictionary: distinct (term, tid=xxhash64), count per tid
      │    [vocabulary-sized; a tid two terms share is a raise_error on
      │     the joined bucket column, so the write fails before any commit]
      └─ numeric stream (pd = docid<<20|dl, tid [, pos])
           └─ repartition(tid, docid_range)        [the only big exchange —
           └─ sortWithinPartitions(tid, pd)         two int64 columns/row]
           └─ mapInArrow(partition kernel), whole-chunk numpy passes:
                run-length (tid, docid) → tf       [replaces a groupBy shuffle]
                posting/group/block boundaries     [numpy comparisons]
                block metadata                     [ufunc.reduceat]
                FOR + LEB128 payloads of every block in ONE buffer each
           └─ ⨝ broadcast dictionary on tid → term, bucket
                                                   [block rows ≪ postings]
      └─ write partitionBy(bucket)   [bucket = pmod(xxhash64(term), 64)]

Why this shape:

- **One big shuffle instead of two.**  tf aggregation happens inside the
  kernel from the sort order — the classic (docid,term) pre-aggregation
  shuffle is gone.
- **Only numbers cross Arrow into the kernel.**  Shipping the occurrence
  stream's term strings into Python materialized one str per row and
  dominated the whole build (~90 s of a 156 s build at 1M docs); int64
  columns convert to numpy without a copy, and term strings reattach at
  block granularity (~100-1000× fewer rows) through the dictionary join.
- **No Python per group or per block.**  Encoding one block from Python
  costs ~100 µs (seconds per core for a 40k-block build); the kernel
  encodes a whole chunk's blocks with a fixed number of numpy passes, and
  each block's bytes equal codec's single-block encoders'.
- **No dictionary job.**  The dictionary and its collision check run inside
  the segments write: no cached DataFrame and no action of their own.
- **Term stats for free.**  Each block row carries (n_docs, sum_tf), so
  df/cf aggregate from block *metadata* — no second pass over occurrences.

Scale properties:

- **Explicit head-term salting (O11).**  The shuffle key is
  (tid, docid_range) — a Zipf head term occupying 10^11 docs lands in
  n_docs/8192 bounded groups, never one reducer.  This is the explicit
  two-stage salted build the north rule demands; the merge stage is free
  because blocks are the persisted unit and query-time scoring treats
  ranges independently.
- **Partition pruning (Q8/K6).**  ``bucket`` is a partition column of the
  segments table: queries compute their terms' buckets and prune the rest —
  Spark's analog of ES routing (elastic/index.go:90-92).
- **No per-row Python.**  Arrow batches in, numpy vectors inside, Arrow out.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import BLOCK_SIZE, DOCS_PER_RANGE, N_TERM_BUCKETS
from ..functions import codec
from ..schemas import SEGMENTS

# (docid, dl) pack for the big exchange: the corpus-wide shuffle row narrows
# from (docid, dl, tid) to (pd, tid) — 1/3 fewer 8-byte slots through
# serialize+compress+network+deserialize on the only corpus-sized exchange.
# 20 bits hold dl exactly: content is capped at 1 MiB (F2), so the simple
# analyzer yields ≤ 524 288 tokens (every token needs ≥1 char + separator);
# least() saturates defensively anyway.  docid keeps 43 bits (10^12-doc
# north-rule scale needs 40).  Sorting by pd == sorting by (docid, dl) and
# dl is constant per docid, so kernel group detection is unchanged.
DL_BITS = 20
_DL_MASK = (1 << DL_BITS) - 1


def pack_docid_dl(docid, dl):
    return F.shiftleft(docid.cast("long"), DL_BITS) + F.least(
        dl.cast("long"), F.lit(_DL_MASK)
    )


def bucket_col(term_col):
    """Hash-bucket routing for terms — identical expression at build and
    query time (so pruning is exact)."""
    return F.pmod(F.xxhash64(term_col), F.lit(N_TERM_BUCKETS)).cast("int")


# kernel output: SEGMENTS with term replaced by numeric tid (+ no bucket)
# (all nullable, like the segments files Spark has always written)
_KERNEL_SCHEMA = T.StructType(
    [T.StructField("tid", T.LongType())]
    + [
        T.StructField(f.name, f.dataType)
        for f in SEGMENTS.fields
        if f.name not in ("term", "bucket")
    ]
)
_KERNEL_ARROW_SCHEMA = to_arrow_schema(_KERNEL_SCHEMA)

# Occurrence rows buffered in the kernel before a flush of complete groups.
# Holding a whole shuffle partition instead measured 5.1 GB of worker RSS
# at a 2M-doc offsets build (~14M rows × 4 concurrent workers).  ~2M-row
# chunks keep each worker at a bounded ~100-200 MB regardless of partition
# size — the property that must hold at 10^12 docs.
_KERNEL_CHUNK_ROWS = 2_000_000
# block rows per output Arrow batch
_OUT_BATCH_ROWS = 4096


def _binary_slices(
    data: np.ndarray, offsets: np.ndarray, lo: int, hi: int
) -> pa.BinaryArray:
    """Blocks [lo, hi) of a concatenated payload as a binary column, built
    from buffer views (no per-block bytes objects)."""
    off = offsets[lo : hi + 1]
    return pa.BinaryArray.from_buffers(
        pa.binary(),
        hi - lo,
        [None, pa.py_buffer((off - off[0]).astype(np.int32)),
         pa.py_buffer(data[off[0] : off[-1]])],
    )


def _encode_blocks(cols: dict[str, np.ndarray]) -> Iterator[pa.RecordBatch]:
    """Complete (tid, docid_range) groups of occurrence rows sorted by
    (tid, pd [, pos]) → block rows.  Posting, group and block boundaries,
    block metadata and every payload come from whole-chunk numpy passes;
    each block's payload bytes equal codec's per-block encoders'."""
    tids, packed = cols["tid"], cols["pd"]
    n = tids.size
    docids = packed >> DL_BITS

    # postings: runs of equal (tid, docid); tf = run length
    new_posting = np.ones(n, dtype=bool)
    new_posting[1:] = (tids[1:] != tids[:-1]) | (docids[1:] != docids[:-1])
    p_start = np.flatnonzero(new_posting)
    n_p = p_start.size
    tf = np.diff(np.append(p_start, n))
    p_tids = tids[p_start]
    p_docids = docids[p_start]
    p_dls = packed[p_start] & _DL_MASK
    p_ranges = p_docids // DOCS_PER_RANGE

    # groups: runs of equal (tid, docid_range); blocks: BLOCK_SIZE-posting
    # slices of a group
    new_group = np.ones(n_p, dtype=bool)
    new_group[1:] = (p_tids[1:] != p_tids[:-1]) | (p_ranges[1:] != p_ranges[:-1])
    g_start = np.flatnonzero(new_group)
    in_group = np.arange(n_p) - g_start[np.cumsum(new_group) - 1]
    b_start = np.flatnonzero(in_group % BLOCK_SIZE == 0)
    n_b = b_start.size

    # docid deltas within a block; a block's first delta is vs the range base
    deltas = np.empty(n_p, dtype=np.int64)
    deltas[1:] = p_docids[1:] - p_docids[:-1]
    deltas[b_start] = p_docids[b_start] - p_ranges[b_start] * DOCS_PER_RANGE
    if deltas.min() < 0:
        raise ValueError("docids must be sorted ascending and >= base")

    payloads = {
        "docids_enc": codec.for_blocks(deltas, b_start),
        "tfs_enc": codec.for_blocks(tf, b_start),
    }
    if "pos" in cols:
        # per posting: count, then positions (first absolute, rest deltas);
        # posting i's count lands at value p_start[i] + i
        poss = cols["pos"]
        d = poss.copy()
        d[1:] -= poss[:-1]
        d[p_start] = poss[p_start]
        data, voff = codec.varint_spans(np.insert(d, p_start, tf).astype(np.uint64))
        first = p_start[b_start] + b_start
        payloads["positions_enc"] = (data, np.append(voff[first], data.size))
    if "start" in cols:
        # per posting: count, start deltas (first absolute), then lengths;
        # posting i's count lands at value 2 * p_start[i] + i
        starts, ends = cols["start"], cols["end"]
        sd = starts.copy()
        sd[1:] -= starts[:-1]
        sd[p_start] = starts[p_start]
        base = 2 * p_start + np.arange(n_p)
        posting = np.repeat(np.arange(n_p), tf)
        at = base[posting] + 1 + np.arange(n) - p_start[posting]
        flat = np.empty(2 * n + n_p, dtype=np.int64)
        flat[base] = tf
        flat[at] = sd
        flat[at + tf[posting]] = ends - starts
        data, voff = codec.varint_spans(flat.astype(np.uint64))
        payloads["offsets_enc"] = (data, np.append(voff[base[b_start]], data.size))

    b_end = np.append(b_start[1:], n_p)
    meta = [
        p_tids[b_start],
        p_ranges[b_start],
        (in_group[b_start] // BLOCK_SIZE).astype(np.int32),
        (b_end - b_start).astype(np.int32),
        p_docids[b_start],
        p_docids[b_end - 1],
        np.maximum.reduceat(tf, b_start).astype(np.int32),
        np.minimum.reduceat(p_dls, b_start).astype(np.int32),
        np.add.reduceat(tf, b_start),
    ]
    for lo in range(0, n_b, _OUT_BATCH_ROWS):
        hi = min(lo + _OUT_BATCH_ROWS, n_b)
        enc = [
            _binary_slices(*payloads[name], lo, hi)
            if name in payloads
            else pa.nulls(hi - lo, pa.binary())
            for name in ("docids_enc", "tfs_enc", "positions_enc", "offsets_enc")
        ]
        yield pa.RecordBatch.from_arrays(
            [pa.array(m[lo:hi]) for m in meta] + enc, schema=_KERNEL_ARROW_SCHEMA
        )


def make_partition_kernel(with_positions: bool = False, with_offsets: bool = False):
    """mapInArrow kernel over a partition sorted by (tid, pd [, pos]):
    run-length tf + block encoding, int64 numpy end to end.

    Streams the partition in bounded chunks: complete (tid, docid_range)
    groups are encoded and flushed as soon as ~_KERNEL_CHUNK_ROWS are
    buffered; only the trailing incomplete group carries over to the next
    chunk (group contiguity is guaranteed by the exchange + partition-local
    sort).  Worker memory is O(chunk), not O(partition)."""
    names = ["tid", "pd"] + (["pos"] if with_positions else []) + (
        ["start", "end"] if with_offsets else []
    )

    def concat(pend: list[dict]) -> dict[str, np.ndarray]:
        if len(pend) == 1:
            return pend[0]
        return {c: np.concatenate([p[c] for p in pend]) for c in names}

    def build_blocks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pend: list[dict] = []
        pend_rows = 0
        next_flush = _KERNEL_CHUNK_ROWS
        for b in batches:
            if b.num_rows == 0:
                continue
            pend.append(
                {c: b.column(c).to_numpy().astype(np.int64, copy=False) for c in names}
            )
            pend_rows += b.num_rows
            if pend_rows < next_flush:
                continue
            cols = concat(pend)
            # the last group's remaining rows may arrive in the next batch:
            # flush everything before it, carry it over
            tids, ranges = cols["tid"], (cols["pd"] >> DL_BITS) // DOCS_PER_RANGE
            prev = np.flatnonzero((tids != tids[-1]) | (ranges != ranges[-1]))
            cut = int(prev[-1]) + 1 if prev.size else 0
            if cut:
                yield from _encode_blocks({c: v[:cut] for c, v in cols.items()})
                # copy so the carried tail doesn't pin the whole chunk
                cols = {c: v[cut:].copy() for c, v in cols.items()}
            pend = [cols]
            pend_rows = cols["tid"].size
            # a buffer that is ONE giant group can't flush yet — grow the
            # trigger so the re-scan stays amortized O(n), not O(n²)
            next_flush = (
                pend_rows + _KERNEL_CHUNK_ROWS if pend_rows >= next_flush
                else _KERNEL_CHUNK_ROWS
            )
        if pend:
            yield from _encode_blocks(concat(pend))

    return build_blocks


# Target occurrence rows per exchange partition: sized so one task's
# partition-local sort stays inside its execution-memory share instead of
# spilling (measured: 8 partitions × 14M rows at a 2M-doc offsets build
# spilled 4.2 GB and the sort+kernel stage went 2× superlinear; ~4M-row
# tasks sort in memory).  The heavy shape carries ~2.5× the bytes per row,
# so its target is proportionally smaller.  At 10^12 docs this yields ~10^7
# partitions of bounded size — the cluster-correct shape (AQE cannot split
# an explicit repartition, so the count must be right at plan time).
OCC_ROWS_PER_PARTITION = 6_000_000
OCC_ROWS_PER_PARTITION_HEAVY = 2_500_000


def occurrence_stream(
    occurrences: DataFrame,
    with_positions: bool = False,
    with_offsets: bool = False,
    est_occurrences: int | None = None,
) -> DataFrame:
    """The pre-kernel numeric stream: the ONE corpus-wide exchange, exactly
    as the production build runs it (also audited verbatim by
    tools/explain_audit.py — keep them one code path).

    ``est_occurrences`` (when the caller knows it — build_index computes the
    exact token total for its catalog anyway) sizes the exchange so per-task
    sorts fit in memory; without it the session's shuffle-partition default
    rules.
    """
    cols = [
        pack_docid_dl(F.col("docid"), F.col("dl")).alias("pd"),
        F.xxhash64("term").alias("tid"),
    ] + (["pos"] if with_positions else []) + (
        ["start", "end"] if with_offsets else []
    )
    num = occurrences.select(*cols)
    # partition key (tid, docid>>13) passed as an expression — docid_range is
    # derivable from the packed column, so materializing it would add 8
    # bytes/row of shuffle volume for nothing (the kernel recomputes it from
    # pd in one numpy op)
    range_expr = (
        F.shiftright(F.col("pd"), DL_BITS) / F.lit(DOCS_PER_RANGE)
    ).cast("long")
    sort_cols = ["tid", "pd"] + (["pos"] if with_positions else [])
    part_args: list = [F.col("tid"), range_expr]
    if est_occurrences:
        target = (
            OCC_ROWS_PER_PARTITION_HEAVY
            if (with_positions or with_offsets)
            else OCC_ROWS_PER_PARTITION
        )
        # the conf may be non-numeric on some platforms ("auto" under
        # Databricks AQE auto-optimized shuffle) — fall back to the sized
        # count alone rather than failing every est_occurrences build
        raw = occurrences.sparkSession.conf.get("spark.sql.shuffle.partitions")
        try:
            default_parts = int(raw)
        except (TypeError, ValueError):
            default_parts = 0
        n_parts = max(default_parts, -(-est_occurrences // target), 1)
        part_args = [n_parts] + part_args
    return num.repartition(*part_args).sortWithinPartitions(*sort_cols)


def term_dictionary(pairs: DataFrame) -> DataFrame:
    """(term, tid) occurrence rows → (tid, term, bucket), one row per tid.

    Vocabulary-sized: distinct (term, tid) pairs (map-side dedup), each
    counted against its tid.  A tid that two terms share would silently
    merge two posting lists, so its ``bucket`` is a ``raise_error``: the
    segments write, which partitions by bucket, fails before anything
    commits.  (On ``bucket`` so the written ``term`` column stays as it
    was, non-null.)  With 64-bit hashes a collision is ~10^-6 even at
    10^7-term vocabularies — checked, not assumed away."""
    n_terms = F.count("*").over(Window.partitionBy("tid"))
    bucket = F.when(n_terms == 1, bucket_col(F.col("term"))).otherwise(
        F.raise_error(
            F.concat(
                F.lit("xxhash64 term-id collision: "), F.col("term"),
                F.lit(" shares its tid with another term; rebuild with a secondary hash"),
            )
        )
    )
    return pairs.select("term", "tid").distinct().select(
        "tid", "term", bucket.alias("bucket")
    )


def build_segments(
    occurrences: DataFrame,
    with_positions: bool = False,
    with_offsets: bool = False,
    est_occurrences: int | None = None,
) -> DataFrame:
    """Token occurrences (docid, term, dl [, pos [, start, end]]) → SEGMENTS.

    One plan: the posting exchange and kernel, and the term dictionary
    broadcast-joined onto the block rows.  Writing it runs the collision
    check (``term_dictionary``) in the same job.

    Positions must be token positions within the doc (posexplode order); the
    sort places them ascending per posting so delta encoding applies.
    """
    tdict = term_dictionary(
        occurrences.select("term", F.xxhash64("term").alias("tid"))
    )
    part = occurrence_stream(
        occurrences, with_positions, with_offsets, est_occurrences
    )
    blocks = part.mapInArrow(
        make_partition_kernel(with_positions, with_offsets),
        schema=_KERNEL_SCHEMA,
    )
    # term strings reattach at block granularity (blocks ≪ postings); the
    # broadcast side is one row per vocabulary term
    return blocks.join(F.broadcast(tdict), "tid").select(
        *[f.name for f in SEGMENTS.fields]
    )


def term_stats_from_segments(segments: DataFrame, n_docs: int) -> DataFrame:
    """TERM_STATS from block metadata only (no posting decode):
    df = Σ n_docs per term, cf = Σ sum_tf per term, idf = canonical Lucene."""
    return (
        segments.groupBy("term")
        .agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("cf"),
        )
        .withColumn(
            "idf",
            F.log1p(
                (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
    )


def decode_segments(segments: DataFrame) -> DataFrame:
    """SEGMENTS → flat (term, docid, tf) via mapInPandas — the storage
    round-trip used by the exhaustive scorer and the oracle-parity tests.

    Projects to the five needed columns FIRST so the parquet scan prunes the
    posting-byte columns it doesn't decode — on a positions+offsets index
    those payloads are most of the table's bytes."""
    segments = segments.select(
        "term", "docid_range", "n_docs", "docids_enc", "tfs_enc"
    )

    def decode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            terms, docids, tfs = [], [], []
            for r in pdf.itertuples(index=False):
                base = r.docid_range * DOCS_PER_RANGE
                d = codec.decode_docids(r.docids_enc, base=base, count=r.n_docs)
                t = codec.decode_tfs(r.tfs_enc, count=r.n_docs)
                terms.append(np.full(len(d), r.term, dtype=object))
                docids.append(d)
                tfs.append(t)
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms),
                    "docid": np.concatenate(docids),
                    "tf": np.concatenate(tfs).astype(np.int32),
                }
            )

    return segments.mapInPandas(decode, schema="term string, docid long, tf int")
