#!/usr/bin/env python
"""Generate EXPLAIN.md: formatted physical plans for the engine's hot paths,
with the properties worth auditing called out (pushdown, pruning, codegen,
exchange placement).  Run: python tools/explain_audit.py [index_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from gitlab_elasticsearch_indexer_spark.config import DOCS_PER_RANGE
    from gitlab_elasticsearch_indexer_spark.operators.docs import build_docs
    from gitlab_elasticsearch_indexer_spark.operators.postings import bucket_col
    from gitlab_elasticsearch_indexer_spark.operators.search import (
        filter_segments_for_terms,
        search_exhaustive,
    )
    from gitlab_elasticsearch_indexer_spark.operators.tokenize import tokens_expr
    from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
    from gitlab_elasticsearch_indexer_spark.session import get_spark
    from gitlab_elasticsearch_indexer_spark.sources.pages import pages_from_documents

    spark = get_spark(app_name="explain-audit", cores=8)
    sf = "/root/testdata/sf0.001"
    index_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ges_explain_idx"
    if not os.path.exists(os.path.join(index_dir, "current")):
        build_index(spark, pages_from_documents(spark, sf), index_dir, snapshot="s1")

    # NOTE: no Searcher here — its .cache() would make the CacheManager
    # substitute InMemoryRelation into every plan below and hide the
    # parquet-scan pruning we are auditing.
    spark.catalog.clearCache()
    from gitlab_elasticsearch_indexer_spark.sources import catalog as cat

    segments = cat.read_table(spark, index_dir, "segments")
    term_stats = cat.read_table(spark, index_dir, "term_stats")
    docs_fresh = cat.read_table(spark, index_dir, "docs")
    avgdl = cat.read_catalog(index_dir).avgdl
    sections: list[tuple[str, str, str]] = []

    docs_plan = build_docs(pages_from_documents(spark, sf)).withColumn(
        "dl", F.size(tokens_expr("simple")).cast("int")
    )
    sections.append(
        (
            "pages → docs (narrow transform pass)",
            "Audit: single stage, no Exchange; binary-detect UDF input is the "
            "8KiB substring (O3); every non-UDF expression inside "
            "WholeStageCodegen.",
            formatted(docs_plan),
        )
    )

    from gitlab_elasticsearch_indexer_spark.operators.postings import (
        occurrence_stream,
    )

    occ = occurrence_stream(
        docs_fresh.select(
            "docid", "dl", F.explode(tokens_expr("simple")).alias("term")
        )
    )
    sections.append(
        (
            "occurrences → sorted posting stream (the one wide exchange)",
            "Audit: the PRODUCTION pre-kernel stream (same code path as "
            "build_segments): exactly one Exchange hashpartitioning(tid, "
            "shiftright(pd,20)/8192) — the explicit head-term salt over the "
            "packed (docid<<20|dl) row, two int64s per occurrence; Sort is "
            "partition-local (no global sort); docs scan reads only "
            "docid/dl/content (ReadSchema).",
            formatted(occ),
        )
    )
    occ_plan = formatted(occ)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", occ_plan))
    assert n_exchanges == 1, f"posting stream must have ONE exchange, saw {n_exchanges}"
    assert "shiftright" in occ_plan, "exchange must key on the packed pd column"

    seg_scan = filter_segments_for_terms(segments, ["spark", "data"])
    sections.append(
        (
            "segments scan for a query (routing pruning)",
            "Audit: PartitionFilters on bucket (directory pruning — the ES "
            "routing analog) and PushedFilters on term (row-group pruning); "
            "posting binary columns absent from ReadSchema until decode.",
            formatted(seg_scan.select("term", "docid_range", "max_tf")),
        )
    )

    hits = search_exhaustive(
        segments, term_stats, docs_fresh, ["spark", "data"], 10, avgdl
    )
    sections.append(
        (
            "exhaustive BM25 top-k",
            "Audit: term_stats joined via BroadcastHashJoin (tiny side); "
            "docs side scans ONLY docid+dl (ReadSchema pruning; the serving "
            "Searcher caches the docs table WITHOUT content — display and "
            "snippet columns come from an uncached per-page fetch, so the "
            "serving cache is metadata-sized, not corpus-sized); "
            "partial_sum before the docid Exchange (map-side combine); "
            "TakeOrderedAndProject for the global top-k (no full sort).",
            formatted(hits),
        )
    )

    from gitlab_elasticsearch_indexer_spark.operators.wand import score_batch

    pidx = index_dir + "_pos"
    if not os.path.exists(os.path.join(pidx, "current")):
        build_index(
            spark, pages_from_documents(spark, sf), pidx,
            snapshot="s1", with_positions=True,
        )
    phrase = ["data", "query"]
    idf_rows = cat.read_table(spark, pidx, "term_stats").filter(F.col("term").isin(phrase))
    idf = dict(sorted((r["term"], float(r["idf"])) for r in idf_rows.collect()))
    phrase_plan = formatted(score_batch(
        cat.read_table(spark, pidx, "segments"), cat.read_table(spark, pidx, "docs"),
        idf, cat.read_catalog(pidx).avgdl, 10, [0], phrase=phrase,
    ))
    assert "Coalesce 1" not in phrase_plan and "SinglePartition" not in phrase_plan, (
        "phrase scoring must stay distributed (no single-partition stage)"
    )
    assert "positions_enc" in phrase_plan and "offsets_enc" not in phrase_plan
    sections.append(
        (
            "phrase query: one block-max scoring batch (positions adjacency in the range kernel)",
            "Audit: the blocks of the phrase terms are cogrouped with the docs "
            "side on docid_range (FlatMapCoGroupsInPandas over an Exchange "
            "hashpartitioning(docid_range) on each side), so a phrase fans "
            "out over the same ranges as every block-max query; NO "
            "Coalesce(1)/SinglePartition anywhere (asserted by this script); "
            "bucket PartitionFilters + term PushedFilters still reach the "
            "scan, and positions_enc is the only payload read beyond "
            "docids/tfs; offsets are not read.",
            phrase_plan,
        )
    )

    from gitlab_elasticsearch_indexer_spark.operators.diff import snapshot_diff

    pages_all = pages_from_documents(spark, sf)
    diff_df = snapshot_diff(
        pages_all.filter(F.col("doc_id") % 7 != 0),
        pages_all.filter(F.col("doc_id") % 5 != 0),
    )
    # The only forced broadcast allowed in the diff plan is the RENAME
    # pairing side (|hash-unique DELETED| — delete-sized, its output carries
    # del_url).  COPY pairing must NOT hint a broadcast: its surviving_old
    # input is corpus-sized before the semi-join restriction, so a hint
    # there is a 100×-scale driver OOM.  Walk the analyzed logical plan and
    # check every ResolvedHint wraps the deleted side.
    def _walk_hints(node, found):
        if node.nodeName() == "ResolvedHint":
            found.append(node)
        kids = node.children()
        for i in range(kids.length()):
            _walk_hints(kids.apply(i), found)

    hint_nodes: list = []
    _walk_hints(diff_df._jdf.queryExecution().analyzed(), hint_nodes)
    for h in hint_nodes:
        out_cols = h.output().mkString(",")
        assert "del_url" in out_cols, (
            "snapshot_diff hints a broadcast on a non-DELETED-side input "
            f"(output: {out_cols}) — corpus-sized broadcast risk"
        )
    sections.append(
        (
            "snapshot diff (change-stream derivation)",
            "Audit: one full-outer sort-merge join on url; RENAME pairing "
            "broadcasts only the hash-unique DELETED side (delta-sized); "
            "COPY pairing has NO broadcast hint — surviving_old is semi-"
            "joined down to the added rows' hashes first, then AQE picks "
            "the strategy (asserted: ≤1 ResolvedHint in the logical plan).",
            formatted(diff_df),
        )
    )

    seg_scan_plan = formatted(seg_scan.select("term", "docid_range", "max_tf"))
    assert "CollectLimit" not in seg_scan_plan
    # bucket pruning must come from the driver-side xxhash64 twin — the
    # PartitionFilters list literal bucket values, proving no Spark job was
    # spent learning the routing key
    assert "PartitionFilters: [bucket" in seg_scan_plan

    out = ["# EXPLAIN audit — physical plans of the hot paths\n"]
    out.append(
        "Generated by tools/explain_audit.py (sf0.001 index). Each section "
        "states what the plan must show; regenerate after plan-affecting "
        "changes.\n"
    )
    for title, audit, plan in sections:
        # expression, plan and lambda variable ids change every run;
        # unchanged plans must regenerate a byte-identical file
        plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
        plan = re.sub(r"#\d+", "#_", re.sub(r"(lambda \w+?)_\d+#", r"\1_#", plan))
        out.append(f"\n## {title}\n\n{audit}\n\n```\n{plan}```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("".join(out))
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
