"""Per-layer metrics of a traced run, from its spans, the Spark event log
and the index files it left, and the per-layer report.

Each metric names the engine layer it measures; NOTES.md lists which
end-to-end metric each one should move.
"""

from __future__ import annotations

import glob
import os

import numpy as np

import stats
import tracing as tr

S, MS, COUNT, BYTES, RATIO = "s", "ms", "count", "bytes", "ratio"
CLASSES = ("rare", "mixed", "head")
UNITS = {
    **{f"build.{p}_s": S for p in tr.BUILD_PHASES},
    "build.driver_s": S,
    "build.unattributed_s": S,
    "build.jobs": COUNT,
    "build.tasks": COUNT,
    "build.task_run_s": S,
    "build.task_cpu_s": S,
    "build.gc_s": S,
    "build.shuffle_write_bytes": BYTES,
    "build.segments_bytes": BYTES,
    "build.docs_bytes": BYTES,
    "build.term_stats_bytes": BYTES,
    "build.blocks": COUNT,
    "build.postings_per_block": RATIO,
    "searcher.open_s": S,
    "query.plan_ms": MS,
    "query.exec_ms": MS,
    **{f"query.{c}.jobs_per_query": COUNT for c in CLASSES},
    **{f"query.{c}.tasks_per_query": COUNT for c in CLASSES},
    "query.sched_wait_ms": MS,
    "query.task_run_ms": MS,
    "query.bytes_read": BYTES,
    "query.driver_ms": MS,
    "delta.apply.jobs": COUNT,
    "delta.apply.task_run_s": S,
    "delta.apply.shuffle_write_bytes": BYTES,
    "delta.write_amplification": RATIO,
    "delta.range_amplification": RATIO,
    "delta.chain_depth": COUNT,
    "delta.query_stall_ms": MS,
    "process.peak_rss_mb": "MB",
}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _lineage_ranges(snapshot_dir: str) -> set[int]:
    import pyarrow.parquet as pq

    keys = pq.read_table(os.path.join(snapshot_dir, "lineage"), columns=["partition_key"])
    return {int(k) for k in keys.column(0).to_pylist() if k != "-"}


def _event_log(out_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(out_dir, "local-*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished Spark event log in {out_dir}, found {logs}")
    return logs[0]


def per_layer(bench) -> dict[str, float]:
    log_path = _event_log(bench.out)
    jobs, execs = tr.read_event_log(log_path)
    os.remove(log_path)  # large; the spans file and the report keep what it gave
    m: dict[str, float] = {}

    # ---- build: phases by the table each SQL execution writes
    b = bench.build_span
    phases = tr.build_phases(jobs, execs, b.rid, b.start, b.end)
    for name, secs in phases.items():
        m[f"build.{name}_s"] = secs
    bj = tr.jobs_in(jobs, b.rid)
    m["build.jobs"] = len(bj)
    m["build.tasks"] = sum(j.tasks for j in bj)
    m["build.task_run_s"] = sum(j.run_s for j in bj)
    m["build.task_cpu_s"] = sum(j.cpu_s for j in bj)
    m["build.gc_s"] = sum(j.gc_s for j in bj)
    m["build.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in bj)
    snap = os.path.join(bench.index, "s1")
    for t in ("segments", "docs", "term_stats"):
        m[f"build.{t}_bytes"] = dir_bytes(os.path.join(snap, t))
    import pyarrow.dataset as ds

    n_docs = ds.dataset(os.path.join(snap, "segments"), format="parquet", partitioning="hive").to_table(columns=["n_docs"])
    m["build.blocks"] = n_docs.num_rows
    m["build.postings_per_block"] = int(np.sum(n_docs.column(0).to_numpy())) / max(1, n_docs.num_rows)
    bench.build_extra = {
        "failed_tasks": sum(j.failed_tasks for j in bj),
        "spill_bytes": sum(j.spill_bytes for j in bj),
        "spark_coverage": sum(phases[p] for p in tr.BUILD_PHASES) / b.seconds,
    }

    # ---- serving: per query, from the jobs of its request
    def first_query_s(snap):  # the query that fills the new Searcher's caches
        return min((q for q in bench.queries if q["snapshot"] == snap), key=lambda q: q["start"])["ms"] / 1000

    m["searcher.open_s"] = stats.median([o["s"] + first_query_s(o["snapshot"]) for o in bench.opens])
    serve = [q for q in bench.queries if q["phase"] == "serve" and q["rows"] is not None]
    m["query.plan_ms"] = stats.median([q["plan_ms"] for q in serve])
    m["query.exec_ms"] = stats.median([q["exec_ms"] for q in serve])
    per_q = {q["rid"]: tr.jobs_in(jobs, q["rid"]) for q in serve}
    for c in CLASSES:
        mine = [per_q[q["rid"]] for q in serve if q["cls"] == c]
        m[f"query.{c}.jobs_per_query"] = stats.median([len(js) for js in mine])
        m[f"query.{c}.tasks_per_query"] = stats.median([sum(j.tasks for j in js) for js in mine])
    m["query.sched_wait_ms"] = stats.median([1000 * sum(j.sched_wait_s for j in per_q[q["rid"]]) for q in serve])
    m["query.task_run_ms"] = stats.median([1000 * sum(j.run_s for j in per_q[q["rid"]]) for q in serve])
    m["query.bytes_read"] = stats.median([sum(j.bytes_read for j in per_q[q["rid"]]) for q in serve])
    m["query.driver_ms"] = stats.median([
        q["ms"] - 1000 * tr.union_seconds(tr.clip([(j.start, j.end) for j in per_q[q["rid"]]], q["start"], q["end"]))
        for q in serve
    ])

    # ---- maintenance
    a = bench.apply  # chain-extending, see run.Bench.delta
    apply_jobs = tr.jobs_in(jobs, a["rid"])
    m["delta.apply.jobs"] = len(apply_jobs)
    m["delta.apply.task_run_s"] = sum(j.run_s for j in apply_jobs)
    m["delta.apply.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in apply_jobs)
    d = bench.inp.delta
    text_bytes = sum(len(bench.inp.text(int(v))) for v in d.put)
    m["delta.write_amplification"] = dir_bytes(os.path.join(bench.index, "d1")) / text_bytes
    touched = {int(x) // bench.docs_per_range for x in bench.inp.docid[np.concatenate([d.put, d.removed])]}
    m["delta.range_amplification"] = len(_lineage_ranges(os.path.join(bench.index, "d1"))) / len(touched)
    readers = [q for q in bench.queries if q["phase"] == "delta" and q["rows"] is not None]
    depth = {"s1": 0, "d1": a["depth"]}
    m["delta.chain_depth"] = float(np.mean([depth[q["snapshot"]] for q in readers]))
    overlap = [q["ms"] for q in readers if q["start"] < a["end"] and a["start"] < q["end"]]
    quiet = [q["ms"] for q in readers if not (q["start"] < a["end"] and a["start"] < q["end"])]
    m["delta.query_stall_ms"] = stats.median(overlap) - stats.median(quiet)
    m["process.peak_rss_mb"] = bench.peak_rss_mb
    return {k: float(m[k]) for k in UNITS}


def write_report(bench, end_to_end: dict[str, float], per_layer: dict[str, float]) -> None:
    lines = [f"per-layer report: workload={bench.workload} seed={bench.seed} (traced run)", ""]
    lines.append("span self times (self = span minus the part its child spans cover)")
    lines.append(f"  {'span':10s} {'count':>6s} {'total_s':>10s} {'self_s':>10s}")
    for name, row in sorted(tr.self_times(bench.tracer.spans).items()):
        lines.append(f"  {name:10s} {row['count']:6d} {row['total_s']:10.3f} {row['self_s']:10.3f}")
    lines.append("")
    lines.append("build wall time by phase (Spark job attribution)")
    for p in (*tr.BUILD_PHASES, "unattributed", "driver"):
        secs = per_layer[f"build.{p}_s"]
        lines.append(f"  {p:18s} {secs:8.3f} s  {100 * secs / bench.build_span.seconds:5.1f} %")
    extra = bench.build_extra
    lines.append(f"  named phases cover {100 * extra['spark_coverage']:.1f} % of build_index wall time")
    lines.append(f"  failed tasks {extra['failed_tasks']}, spilled bytes {extra['spill_bytes']}")
    lines.append("")
    lines.append("per-layer metrics")
    for k, v in per_layer.items():
        lines.append(f"  {k:34s} {v:14.4f} {UNITS[k]}")
    lines.append("")
    lines.append("end-to-end metrics of this traced run (tracing overhead: perfbench/overhead.py)")
    for k, v in end_to_end.items():
        lines.append(f"  {k:34s} {v:14.4f}")
    text = "\n".join(lines)
    with open(os.path.join(bench.out, "report.txt"), "w") as f:
        f.write(text + "\n")
    print(text)
