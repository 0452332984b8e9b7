"""Spans around the benchmark's calls into the engine, and Spark job
attribution from the event log.

A span records name, start, end, parent and a request id shared by every
span of one query, build or apply.  When tracing is on, the outermost span
of a request also sets the calling thread's Spark job group to the request
id, so every Spark job (and SQL execution) the request causes carries it in
the event log.  Spans stay in memory and are written out when the run ends.

Job attribution (``build_phases``): a SQL execution that writes a table is
attributed to the build phase that writes it; an execution or job that
writes nothing is attributed by the engine module at its Python call site.
Build wall time is split among the phases, and what no phase claims is
reported as ``unattributed``, never dropped.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "gitlab_elasticsearch_indexer_spark"
IDLE_GROUP = "idle"

# table a build writes -> phase
BUILD_TABLE_PHASES = {
    "tokens_tmp": "docs_pass",  # token arrays (Python analyzer chains)
    "docs": "docs_pass",
    "segments": "postings",
    "lineage": "lineage",
    "term_stats": "term_stats",
}
# engine module of a non-writing call site -> phase
BUILD_CALLSITE_PHASES = {
    "operators/postings.py": "term_dict",  # dictionary + collision check
    "plans/build_index.py": "collection_stats",
}
BUILD_PHASES = ("docs_pass", "term_dict", "postings", "collection_stats", "lineage", "term_stats")


@dataclass
class Span:
    name: str
    rid: str
    parent: int | None
    sid: int
    start: float = 0.0  # epoch seconds, comparable with the event log
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans for one run.  With ``enabled`` False, spans still time their
    block (the benchmark's own timings come from them) but are not kept and
    set no job group."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            self._next += 1
            sid = self._next
        sp = Span(name, rid or (parent.rid if parent else name), parent and parent.sid, sid, attrs=attrs)
        root = self.enabled and self.sc is not None and (parent is None or sp.rid != parent.rid)
        if root:
            self.sc.setJobGroup(sp.rid, name)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if root:
                self.sc.setJobGroup(parent.rid if parent else IDLE_GROUP, "")
            if self.enabled:
                with self._lock:
                    self.spans.append(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(sp.__dict__ | {"seconds": sp.seconds}) + "\n")


def union_seconds(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans: list[Span]) -> dict[str, dict]:
    """Per span name: count, total seconds, and self seconds (each span's
    duration minus the part of it its child spans cover)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out: dict[str, dict] = {}
    for sp in spans:
        covered = union_seconds(clip([(c.start, c.end) for c in kids.get(sp.sid, ())], sp.start, sp.end))
        row = out.setdefault(sp.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += sp.seconds
        row["self_s"] += sp.seconds - covered
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    callsite: str | None  # engine module, e.g. "operators/postings.py"
    start: float
    end: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_read: int = 0
    first_launch: float | None = None

    @property
    def sched_wait_s(self) -> float:
        """Submit to first task start (0 for a job whose stages were all skipped)."""
        return (self.first_launch - self.start) if self.first_launch else 0.0


@dataclass
class Execution:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    table: str | None = None  # last path component of the table it writes


_CALLSITE = re.compile(PKG + r"/([\w/]+\.py):\d+")
_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand (?:file:)?(\S+?),")


def _written_table(plan: dict) -> str | None:
    todo = [plan]
    while todo:
        node = todo.pop()
        m = _WRITE.search(node.get("simpleString", ""))
        if m:
            return m.group(1).rstrip("/").rsplit("/", 1)[-1]
        todo.extend(node.get("children", ()))
    return None


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, Execution]]:
    jobs: dict[int, Job] = {}
    execs: dict[int, Execution] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                m = _CALLSITE.search(p.get("callSite.short", "") or "")
                ex = p.get("spark.sql.execution.id")
                job = Job(
                    e["Job ID"], p.get("spark.jobGroup.id"), int(ex) if ex is not None else None,
                    m.group(1) if m else None, e["Submission Time"] / 1000,
                )
                jobs[job.id] = job
                for sid in e.get("Stage IDs", ()):
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"]))
                if job is None:
                    continue
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                job.tasks += 1
                job.failed_tasks += bool(info.get("Failed") or info.get("Killed"))
                launch = info["Launch Time"] / 1000
                job.first_launch = launch if job.first_launch is None else min(job.first_launch, launch)
                job.run_s += m.get("Executor Run Time", 0) / 1000
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1000
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                job.bytes_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                x = Execution(int(e["executionId"]), e.get("jobGroupId"), e["time"] / 1000)
                x.table = _written_table(e.get("sparkPlanInfo") or {})
                execs[x.id] = x
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                x = execs.get(int(e["executionId"]))
                if x is not None:
                    x.end = e["time"] / 1000
    return jobs, execs


def jobs_in(jobs: dict[int, Job], group: str) -> list[Job]:
    return [j for j in jobs.values() if j.group == group]


def build_phases(
    jobs: dict[int, Job], execs: dict[int, Execution], group: str, start: float, end: float
) -> dict[str, float]:
    """Seconds per build phase for the build whose job group is ``group``,
    plus ``unattributed``; together they partition ``end - start``.  Also
    ``driver``, the part of ``unattributed`` in which no Spark item ran.

    The items are the group's SQL executions and its jobs that run outside
    any execution.  A phase's time is the time its items run, nothing else.
    An item with no phase of its own (a schema read or a file listing, which
    prepares the next execution) joins the next item that has one.
    ``unattributed`` is what is left: the driver-side gaps between items
    and any unphased item after the last phased one."""
    items: list[tuple[float, float, str | None]] = []
    by_exec: dict[int, list[Job]] = {}
    for j in jobs_in(jobs, group):
        if j.execution is None or j.execution not in execs:
            items.append((j.start, j.end, BUILD_CALLSITE_PHASES.get(j.callsite)))
        else:
            by_exec.setdefault(j.execution, []).append(j)
    for x in execs.values():
        if x.group != group and x.id not in by_exec:
            continue
        mine = by_exec.get(x.id, [])
        phase = BUILD_TABLE_PHASES.get(x.table)
        if phase is None:
            sites = sorted({j.callsite for j in mine if j.callsite in BUILD_CALLSITE_PHASES})
            phase = BUILD_CALLSITE_PHASES[sites[0]] if sites else None
        items.append((x.start, x.end or max((j.end for j in mine), default=x.start), phase))

    out = dict.fromkeys(BUILD_PHASES, 0.0)
    claimed: list[tuple[float, float]] = []
    pending: list[tuple[float, float]] = []
    for s, e, phase in sorted(items, key=lambda it: it[1]):
        pending += clip([(s, e)], start, end)
        if phase is not None:  # time an earlier item already claimed is not counted twice
            out[phase] += union_seconds(claimed + pending) - union_seconds(claimed)
            claimed += pending
            pending = []
    out["unattributed"] = (end - start) - sum(out.values())
    out["driver"] = (end - start) - union_seconds(clip([(s, e) for s, e, _ in items], start, end))
    return out
