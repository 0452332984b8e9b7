#!/usr/bin/env python
"""Round-4 bench evidence beyond bench.py's driver contract (BENCH.md §6-7).

Two probes, each printing ONE JSON line:

``--incremental`` — the incremental-indexing claim at scale: full rebuild of
an N-doc corpus vs ``apply_delta`` of a 1% delta vs chain compaction, same
session, same cores.  The chain design's core claim
(plans/incremental.py: delta snapshots materialize only affected
docid-ranges, Iceberg-style) predicts delta wall time proportional to the
DELTA, not the corpus.  Run pinned for a clean reading, e.g.::

    taskset -c 0-3 env SPARK_GRAFT_CPUS=4 SPARK_GRAFT_BENCH_REPS=400 \
        python tools/bench_extras.py --incremental

Delta composition (20 k docs at REPS=400, i.e. 1%): 80% ADDED with fresh
docids above the base corpus (the dominant real-world incremental shape —
new pages arriving), 10% MODIFIED + 10% DELETED over one existing
docid-range neighborhood.  ADDED rows land in ~⌈new/8192⌉ fresh ranges and
MODIFIED/DELETED rebuild only the ranges they touch, so the rebuilt-range
count is delta-sized.  A uniformly-spread modify of 1% of docs would touch
every 8192-doc range and degrade to a full rebuild — that is a property of
ANY range-partitioned copy-on-write layout (Iceberg/Delta file rewrite
amplification), reported here rather than hidden.

``--concurrency`` — serving-path probe: N concurrent ``search()`` calls on
ONE warm Searcher (local[32]): queries/sec and per-query p50/p95 latency at
1 vs 8 client threads.  Queries on an index of at most RANGE_BATCH ranges
are served in process (no Spark job); larger indexes submit Spark jobs
from separate driver threads, which Spark schedules concurrently.  The probe
surfaces any driver-side lock/bottleneck in the Searcher itself before a
real deployment would.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "400"))


def bench_incremental() -> None:
    from pyspark.sql import functions as F

    from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
    from gitlab_elasticsearch_indexer_spark.plans.incremental import (
        apply_delta,
        compact,
    )
    from gitlab_elasticsearch_indexer_spark.session import get_spark
    from gitlab_elasticsearch_indexer_spark.sources.pages import pages_scaled

    spark = get_spark(app_name=f"ges-bench-incr-{CPUS}", cores=CPUS)
    index_dir = tempfile.mkdtemp(prefix="ges_bench_incr_")
    try:
        pages = pages_scaled(spark, SF_DIR, REPS)
        n_docs = pages.count()
        max_docid = n_docs  # pages_scaled docids are dense in [0, n_docs)

        # warm JVM/codegen/Python-worker pools outside every timed region
        warm = tempfile.mkdtemp(prefix="ges_bench_incr_warm_")
        try:
            build_index(spark, pages.limit(200), warm, analyzer="simple", snapshot="w")
        finally:
            shutil.rmtree(warm, ignore_errors=True)

        t0 = time.time()
        build_index(spark, pages, index_dir, analyzer="simple", snapshot="base")
        full_build_sec = round(time.time() - t0, 3)

        n_delta = max(100, n_docs // 100)  # 1%
        n_add = int(n_delta * 0.8)
        n_mod = int(n_delta * 0.1)
        n_del = n_delta - n_add - n_mod

        # ADDED: fresh docids above the corpus (new pages arriving)
        added = (
            spark.range(n_add)
            .select(
                F.concat(F.lit("https://delta.example/new/"), F.col("id")).alias("url"),
                F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
                F.encode(
                    F.concat(
                        F.lit("fresh delta document body number "),
                        F.col("id").cast("string"),
                        F.lit(" spark index merge"),
                    ),
                    "UTF-8",
                ).alias("html"),
                F.concat(
                    F.lit("fresh delta document body number "),
                    F.col("id").cast("string"),
                    F.lit(" spark index merge"),
                ).alias("text"),
                F.lit("en").alias("lang"),
                F.lit("ADDED").alias("op"),
                F.lit(None).cast("string").alias("old_url"),
                (F.lit(max_docid) + F.col("id")).alias("doc_id"),
            )
        )
        # MODIFIED + DELETED: one docid neighborhood of existing docs
        neighborhood = pages.filter(F.col("doc_id") < n_mod + n_del)
        modified = (
            neighborhood.filter(F.col("doc_id") < n_mod)
            .withColumn("op", F.lit("MODIFIED"))
            .withColumn("old_url", F.lit(None).cast("string"))
            .withColumn("text", F.concat(F.col("text"), F.lit(" edited edited")))
            .withColumn("html", F.encode(F.col("text"), "UTF-8"))
        )
        deleted = (
            neighborhood.filter(F.col("doc_id") >= n_mod)
            .withColumn("op", F.lit("DELETED"))
            .withColumn("old_url", F.col("url"))
        )
        delta = added.unionByName(
            modified.select(*added.columns)
        ).unionByName(deleted.select(*added.columns))
        delta_rows = delta.count()  # materialize the plan outside the timing

        t0 = time.time()
        c1 = apply_delta(spark, index_dir, delta, new_snapshot="d1", max_chain=10)
        delta_sec = round(time.time() - t0, 3)

        t0 = time.time()
        c2 = compact(spark, index_dir, new_snapshot="compacted")
        compact_sec = round(time.time() - t0, 3)

        print(json.dumps({
            "metric": "incremental_at_scale",
            "cpus": CPUS,
            "n_docs_base": n_docs,
            "n_delta_rows": delta_rows,
            "delta_pct": round(100.0 * delta_rows / n_docs, 2),
            "full_build_sec": full_build_sec,
            "apply_delta_sec": delta_sec,
            "compact_sec": compact_sec,
            "delta_speedup_vs_full": round(full_build_sec / delta_sec, 1),
            "chain_depth_after_delta": c1.chain_depth,
            "chain_depth_after_compact": c2.chain_depth,
        }))
    finally:
        spark.stop()
        shutil.rmtree(index_dir, ignore_errors=True)


def bench_concurrency() -> None:
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
    from gitlab_elasticsearch_indexer_spark.plans.search import Searcher
    from gitlab_elasticsearch_indexer_spark.session import get_spark
    from gitlab_elasticsearch_indexer_spark.sources.pages import pages_from_documents

    spark = get_spark(app_name="ges-bench-conc", cores=CPUS)
    index_dir = tempfile.mkdtemp(prefix="ges_bench_conc_")
    queries = [
        "spark data query", "table", "customer merge window batch",
        "index build", "stream state", "parquet scan filter",
        "shuffle partition", "broadcast join",
    ]
    try:
        pages = pages_from_documents(spark, SF_DIR)
        build_index(spark, pages, index_dir, analyzer="simple", snapshot="s1")
        s = Searcher(spark, index_dir)
        s.docs.count()
        s.term_stats.count()

        def one(q: str) -> float:
            t = time.perf_counter()
            s.search(q, k=10, with_docs=False).collect()
            return (time.perf_counter() - t) * 1000

        for q in queries:  # warm every query's plan once
            one(q)

        n_each = 3  # 8 queries x 3 = 24 searches per leg
        out: dict[str, float] = {}
        for n_threads in (1, 8):
            work = [q for q in queries for _ in range(n_each)]
            t0 = time.time()
            with ThreadPoolExecutor(max_workers=n_threads) as ex:
                ms = np.array(list(ex.map(one, work)))
            wall = time.time() - t0
            out[f"qps_{n_threads}_threads"] = round(len(work) / wall, 2)
            out[f"wall_{n_threads}_threads"] = round(wall, 3)
            out[f"p50_ms_{n_threads}_threads"] = round(float(np.percentile(ms, 50)), 1)
            out[f"p95_ms_{n_threads}_threads"] = round(float(np.percentile(ms, 95)), 1)
        out.update({
            "metric": "searcher_concurrency",
            "cpus": CPUS,
            "n_queries_per_leg": len(queries) * n_each,
            "concurrency_speedup": round(
                out["qps_8_threads"] / out["qps_1_threads"], 2
            ),
        })
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(index_dir, ignore_errors=True)


if __name__ == "__main__":
    if "--incremental" in sys.argv:
        bench_incremental()
    elif "--concurrency" in sys.argv:
        bench_concurrency()
    else:
        sys.exit("usage: bench_extras.py --incremental | --concurrency")
