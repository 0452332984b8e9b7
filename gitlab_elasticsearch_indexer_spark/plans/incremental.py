"""Incremental index maintenance: apply a pages_delta to a committed snapshot
(reference entry point 1 in incremental mode — FROM_SHA..TO_SHA snapshot
diff, git/gitaly.go:158-219 op dispatch + elastic bulk upsert/delete,
SURVEY.md F4/K1/K2/O1/O7).

Semantics (mirroring git/gitaly.go:186-215):
- DELETED          → remove the doc at ``old_url`` (or ``url``)
- RENAMED          → remove ``old_url`` doc AND upsert the delta row's doc
                     (both ops, like the reference's put+del pair)
- ADDED/MODIFIED/
  COPIED           → idempotent upsert by url (deterministic IDs make
                     re-runs safe, O7)

Spark shape — delta-proportional writes (the 100 TB property):

- The new snapshot materializes ONLY the affected docid_ranges' docs and
  segments (ranges containing a removed, replaced, or added doc) and claims
  them in its lineage; the catalog points at the parent snapshot.  Readers
  resolve the chain newest-first (sources/catalog.read_table) — Iceberg's
  metadata-only copy-on-write, rendered on plain parquet.  A delta touching
  0.1% of the corpus writes 0.1% of the data; the previous implementation
  rewrote every byte of docs+segments per delta.
- Collection stats update ARITHMETICALLY from delta-sized aggregates
  (exact integers: n_docs ± counts, total_tokens ± dl sums — no float
  drift), so no corpus pass is needed for avgdl.
- term_stats is the one corpus-wide aggregation kept per delta — it reads
  block METADATA only (column-pruned, no posting bytes).
- Untouched ranges' block rows are never rewritten; their (max_tf, min_dl)
  block-max metadata is avgdl-independent, so bounds stay valid as
  collection stats shift.
- Every ``max_chain`` deltas the snapshot compacts: the full logical view
  is materialized and the chain resets — bounding read-side chain
  resolution at ≤ max_chain anti-joins (on Iceberg this is the engine's
  own snapshot expiry/compaction).
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DOCS_PER_RANGE
from ..operators.docs import build_docs
from ..operators.postings import build_segments
from ..operators.tokenize import tokens_expr
from ..sources import catalog as cat
from .build_index import commit, field_occurrences, lineage_rows, write_segments


def compact(
    spark: SparkSession, index_dir: str, new_snapshot: str
) -> cat.Catalog:
    """Materialize the current snapshot chain into one full snapshot
    (metadata maintenance — the manual analog of the automatic
    every-``max_chain`` compaction).  Implemented as an empty delta with
    max_chain=0, which forces the materialize branch."""
    empty = spark.createDataFrame(
        [],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, op string, old_url string, doc_id long",
    )
    return apply_delta(spark, index_dir, empty, new_snapshot, max_chain=0)


def apply_delta(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    new_snapshot: str,
    project_id: int = 1,
    max_chain: int = 3,
    allow_analyzer_mismatch: bool = False,
) -> cat.Catalog:
    """delta: PAGES_DELTA-shaped (+ doc_id for new/modified rows)."""
    old = cat.read_catalog(index_dir)
    docs_old = cat.read_table(spark, index_dir, "docs", old.snapshot)

    # the old catalog's full index config — rebuilt ranges must reproduce it
    # exactly (positions payloads, per-field dl columns, namespaced terms)
    fields_meta = old.fields or {}
    field_analyzers = {fld: m["analyzer"] for fld, m in fields_meta.items()}

    # The delta is tokenized with the CURRENT analyzer implementation but
    # merged into postings produced by the OLD one: if the versions differ
    # the merged index silently mixes two analyzers — detected only later,
    # at search time, after the damage is committed.  Refuse up front (the
    # search-time guard is the backstop, not the gate).
    for an, stored, current in old.analyzer_mismatches():
        if stored is None:  # built before versions were recorded
            continue
        msg = (
            f"apply_delta would mix analyzers: index {index_dir!r} snapshot "
            f"{old.snapshot!r} was built with {an!r} version {stored!r}, "
            f"but this code implements {current!r}.  Rebuild the index "
            "instead, or pass allow_analyzer_mismatch=True to force."
        )
        if allow_analyzer_mismatch:
            import warnings

            warnings.warn(msg)
        else:
            raise ValueError(msg)

    removals = delta.filter(F.col("op").isin("DELETED", "RENAMED")).select(
        F.coalesce(F.col("old_url"), F.col("url")).alias("url")
    )
    puts = delta.filter(F.col("op").isin("ADDED", "MODIFIED", "COPIED", "RENAMED"))

    new_docs = build_docs(puts, project_id=project_id).withColumn(
        "dl", F.size(tokens_expr(old.analyzer)).cast("int")
    )
    for fld, fld_an in field_analyzers.items():
        new_docs = new_docs.withColumn(
            f"dl_{fld}", F.size(tokens_expr(fld_an, text_col=fld)).cast("int")
        )
    new_docs = new_docs.cache()

    gone_urls = removals.unionByName(puts.select("url"))
    dl_cols = ["dl"] + [f"dl_{fld}" for fld in fields_meta]
    removed_rows = docs_old.join(F.broadcast(gone_urls), "url", "left_semi").select(
        "docid", *dl_cols
    ).cache()

    # ---- exact arithmetic collection stats from delta-sized aggregates ----
    # one job: the removed and the added docs' counts and net dl sums
    added = F.col("added")
    sums = (
        removed_rows.select(F.lit(False).alias("added"), *dl_cols)
        .unionByName(new_docs.select(F.lit(True).alias("added"), *dl_cols))
        .agg(
            F.count_if(~added).alias("n_removed"),
            F.count_if(added).alias("n_added"),
            *[F.sum(F.when(added, F.col(c)).otherwise(-F.col(c))).cast("long").alias(c)
              for c in dl_cols],
        )
        .collect()[0]
    )
    n_removed, n_added = int(sums["n_removed"]), int(sums["n_added"])
    n_docs = old.n_docs - n_removed + n_added

    have_totals = old.total_tokens is not None and all(
        "total" in m for m in fields_meta.values()
    )
    if have_totals:
        totals = {"dl": int(old.total_tokens)}
        for fld, m in fields_meta.items():
            totals[f"dl_{fld}"] = int(m["total"])
    else:
        # legacy catalog without exact totals: one full (column-pruned) agg
        row = docs_old.agg(
            *[F.sum(c).cast("long").alias(c) for c in dl_cols]
        ).collect()[0]
        totals = {c: int(row[c] or 0) for c in dl_cols}
    totals = {c: totals[c] + int(sums[c] or 0) for c in dl_cols}
    avgdl = (totals["dl"] / n_docs) if n_docs else 0.0
    # every key carries forward (analyzer_version too: the search and
    # apply guards read it per field); only the length stats change
    new_fields_meta = {
        fld: {
            **m,
            "avgdl": (totals[f"dl_{fld}"] / n_docs) if n_docs else 0.0,
            "total": totals[f"dl_{fld}"],
        }
        for fld, m in fields_meta.items()
    }

    # ---- affected ranges: delta-sized DataFrame, never collected ----
    range_expr = (F.col("docid") / F.lit(DOCS_PER_RANGE)).cast("long")
    affected = (
        removed_rows.select(range_expr.alias("docid_range"))
        .unionByName(new_docs.select(range_expr.alias("docid_range")))
        .distinct()
        .cache()
    )

    materialize = old.chain_depth + 1 > max_chain

    # logical surviving docs (chain view minus removals/replacements)
    survivors = docs_old.join(F.broadcast(gone_urls), "url", "left_anti")
    if materialize:
        snap_docs = survivors.unionByName(new_docs.select(*survivors.columns))
    else:
        snap_docs = survivors.join(
            affected, range_expr == affected["docid_range"], "left_semi"
        ).unionByName(new_docs.select(*survivors.columns))

    sd = cat.snapshot_dir(index_dir, new_snapshot)
    snap_docs.write.mode("overwrite").parquet(f"{sd}/docs")
    snap_docs_read = spark.read.parquet(f"{sd}/docs")

    # rebuild segments for the ranges this snapshot owns; occurrence
    # generation goes through the SAME path as the full build
    # (field_occurrences) so positions payloads, offsets, and
    # field-namespaced terms are reproduced exactly
    # even when compacting, only affected ranges are re-encoded — the
    # untouched ranges' blocks are carried over via seg_keep below
    rebuild_docs = snap_docs_read.join(
        affected, range_expr == affected["docid_range"], "left_semi"
    )
    rebuild_occ = field_occurrences(
        rebuild_docs, old.analyzer, old.with_positions, field_analyzers,
        with_offsets=old.with_offsets,
    )
    seg_new = build_segments(
        rebuild_occ, with_positions=old.with_positions,
        with_offsets=old.with_offsets,
    )
    if materialize:
        seg_old = cat.read_table(spark, index_dir, "segments", old.snapshot)
        seg_keep = seg_old.join(affected, "docid_range", "left_anti")
        segments = seg_keep.unionByName(seg_new, allowMissingColumns=True)
    else:
        segments = seg_new  # delta ranges only — the untouched 99.9% is
        #                     reached through the snapshot chain
    write_segments(segments, f"{sd}/segments")

    # lineage = this snapshot's range claims (chain-resolution ownership),
    # written distributively; the counts already say whether it claims any:
    # every surviving doc's range when materializing, else the delta's
    claims_nothing = n_docs == 0 if materialize else n_removed + n_added == 0
    if not claims_nothing:
        claim_src = (
            snap_docs_read.select(range_expr.alias("docid_range")).distinct()
            if materialize
            else affected
        )
        lineage_rows(claim_src, old.snapshot, new_snapshot).write.mode(
            "overwrite"
        ).parquet(f"{sd}/lineage")

    # every other catalog field (analyzer, versions, layout) carries forward
    catalog = dataclasses.replace(
        old,
        n_docs=n_docs,
        avgdl=avgdl,
        snapshot=new_snapshot,
        fields=new_fields_meta or None,
        parent_snapshot=None if materialize else old.snapshot,
        chain_depth=0 if materialize else old.chain_depth + 1,
        total_tokens=totals["dl"],
    )
    commit(spark, index_dir, catalog, claims_nothing, base=old.snapshot)
    new_docs.unpersist()
    removed_rows.unpersist()
    affected.unpersist()
    return catalog
