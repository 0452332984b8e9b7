"""Seeded single-process benchmark of the engine's index build, query
serving and incremental maintenance, driven only through its public
functions (``plans.build_index.build_index``, ``plans.search.Searcher``,
``plans.incremental.apply_delta``) and checked against a numpy BM25 oracle.

    python3 perfbench/run.py --workload simple --seed 1 --seconds 4 --trace 0

Every run, on either workload, goes through the same phases (see NOTES.md):

1. set-up: generate the inputs, write them as parquet, start Spark, and
   warm it up with a build of ``WARM_DOCS`` pages;
2. build: one ``build_index`` over the pages table;
3. serve: a warm ``Searcher``, ``CLIENTS`` closed-loop client threads for
   ``--seconds`` seconds;
4. delta: one writer applies a delta (about 1 % of the corpus) that extends
   the snapshot chain, while ``READERS`` reader threads query a ``Searcher``
   that is reopened after the commit.

The workload picks the analyzer.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` turns on spans and the Spark event log and prints the
per-layer metrics.  The last line of stdout is one JSON object.  Other
output goes under ``perfbench/_out/``; scratch data under ``perfbench/_work/``
is deleted at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing as tr  # noqa: E402
from layers import dir_bytes  # noqa: E402
from oracle import Bm25Oracle  # noqa: E402
from rss import RssSampler, process_tree  # noqa: E402

WORKLOADS = ("simple", "default")  # each names the analyzer it builds with
CORES = 4
CLIENTS = 4
READERS = 2
WARM_DOCS = 40  # pages of the set-up build that warms the JVM and Python workers
TAIL_Q = 80
TERM_SAMPLE = 200

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_ms": "ms",
    f"query_p{TAIL_Q}_ms": "ms",
    "qps": "1/s",
    "rare_query_p50_ms": "ms",
    "head_query_p50_ms": "ms",
    "delta_apply_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_start_epoch() -> float:
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(")") + 2:].split()[19])  # field 22: starttime
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def write_pages(inp: gen.Inputs, path: str, puts, ops=None, deleted=()) -> None:
    """Pages rows for versions ``puts`` (with ``op`` from ``ops`` when this is
    a delta), then DELETED rows for the versions in ``deleted``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    puts, deleted = list(puts), list(deleted)
    texts = [inp.text(v) for v in puts] + [None] * len(deleted)
    rows = puts + deleted
    cols = {
        "url": pa.array(inp.url[rows].tolist(), pa.string()),
        "warc_ts": pa.array(
            inp.ts_us[puts].tolist() + [None] * len(deleted), pa.timestamp("us", tz="UTC")
        ),
        "html": pa.array([t and t.encode("utf-8") for t in texts], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(inp.lang[puts].tolist() + [None] * len(deleted), pa.string()),
    }
    if ops is not None:
        cols["op"] = pa.array(list(ops) + ["DELETED"] * len(deleted), pa.string())
        cols["old_url"] = pa.array([None] * len(rows), pa.string())
    cols["doc_id"] = pa.array(inp.docid[puts].tolist() + [None] * len(deleted), pa.int64())
    pq.write_table(pa.table(cols), path)


class QueryStream:
    """Hands out the generator's query stream in order, to any thread."""

    def __init__(self, stream: np.ndarray):
        self._it = itertools.cycle(stream.tolist())
        self._lock = threading.Lock()

    def next(self) -> int:
        with self._lock:
            return next(self._it)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        tag = f"{workload}-seed{seed}-trace{int(traced)}"
        self.out = os.path.join(HERE, "_out", tag)
        self.work = os.path.join(HERE, "_work", f"{tag}-{os.getpid()}")
        self.index = os.path.join(self.work, "index")
        self.queries: list[dict] = []
        self.apply: dict = {}
        self.opens: list[dict] = []
        self.failures: list[str] = []
        self.marks: dict[str, float] = {}  # phase -> seconds since process start
        self.attempted = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    # ---------------------------------------------------------------- set-up
    def setup(self, t_process: float) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d)
        # keep every scratch file (package zip, shuffle, JVM temp) under _work
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local

        self.inp = gen.make_inputs(self.seed)
        self.oracle = Bm25Oracle(self.inp.docid, self.inp.offsets, self.inp.tokens, gen.VOCAB)
        live = np.arange(len(self.inp.docid)) < self.inp.n_base
        self.live = {"s1": live}
        self.pages = os.path.join(self.work, "pages.parquet")
        write_pages(self.inp, self.pages, range(self.inp.n_base))
        d = self.inp.delta
        live = live.copy()
        live[d.removed] = False
        live[d.put] = True
        self.live["d1"] = live
        self.delta_path = os.path.join(self.work, "delta.parquet")
        ops = ["ADDED"] * len(d.added) + ["MODIFIED"] * len(d.modified)
        write_pages(self.inp, self.delta_path, d.put, ops, d.deleted)
        self.stream = QueryStream(self.inp.stream)

        from gitlab_elasticsearch_indexer_spark.session import get_spark

        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + self.out,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = get_spark(cores=CORES, extra_conf=conf)
        self.tracer = tr.Tracer(self.spark.sparkContext, self.traced)
        self.warm_up(tmp)
        self.setup_s = time.time() - t_process

    def warm_up(self, tmp: str) -> None:
        """A build of the first ``WARM_DOCS`` pages into a throw-away index:
        it starts the Python workers and loads and compiles the build's code
        paths, so the timed build measures the build and not the warm-up."""
        from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index

        pages = os.path.join(tmp, "warm.parquet")
        write_pages(self.inp, pages, range(WARM_DOCS))
        with self.tracer.span("warm_up"):
            build_index(self.spark, self.spark.read.parquet(pages), os.path.join(tmp, "warm-index"),
                        analyzer=self.workload, snapshot="s1")

    # ------------------------------------------------------------ operations
    def build(self) -> None:
        from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index

        self.attempted += 1
        pages = self.spark.read.parquet(self.pages)
        with self.tracer.span("build", "build1") as sp:
            cat = build_index(self.spark, pages, self.index, analyzer=self.workload, snapshot="s1")
        self.build_span = sp
        self.docs_per_range = cat.docs_per_range
        self.check_snapshot("build", cat, "s1", check_vocabulary=True)

    def check_snapshot(self, op: str, cat, snap: str, check_vocabulary: bool = False) -> None:
        """Catalog n_docs/total_tokens and term_stats df of a sample of terms
        against the generator's counts."""
        import pyarrow.parquet as pq

        live = self.live[snap]
        want = self.oracle.collection(live)
        problems = []
        if (cat.n_docs, cat.total_tokens) != want:
            problems.append(f"catalog (n_docs, total_tokens)={(cat.n_docs, cat.total_tokens)}, want {want}")
        ts = pq.read_table(os.path.join(self.index, snap, "term_stats"), columns=["term", "df"])
        got_df = dict(zip(ts.column("term").to_pylist(), ts.column("df").to_pylist()))
        word_id = {w: i for i, w in enumerate(self.inp.words.tolist())}
        rng = np.random.default_rng(self.seed)
        sample = rng.choice(list(got_df), min(TERM_SAMPLE, len(got_df)), replace=False)
        sample = list(sample) + [self.inp.words[t] for q in self.inp.pool for t in q.terms]
        for w in sample:
            t = word_id.get(w)
            want_df = self.oracle.df(live, t) if t is not None else 0
            if got_df.get(w, 0) != want_df:
                problems.append(f"df({w})={got_df.get(w, 0)}, want {want_df}")
                break
        if check_vocabulary:
            n_terms = len(np.unique(self.inp.tokens[: self.inp.offsets[self.inp.n_base]]))
            if len(got_df) != n_terms:
                problems.append(f"term_stats has {len(got_df)} terms, want {n_terms}")
        if problems:
            self.fail(f"{op} {snap}: " + "; ".join(problems))

    def fail(self, msg: str) -> None:
        with self._lock:
            self.failures.append(msg)
        log("FAIL " + msg)

    def query(self, searcher, snap: str, phase: str, timed: bool = True) -> dict:
        qi = self.stream.next()
        q = self.inp.pool[qi]
        rid = f"q{next(self._ids)}"
        rec = {"rid": rid, "qi": qi, "cls": q.cls, "phase": phase, "snapshot": snap,
               "timed": timed, "rows": None}
        with self.tracer.span("query", rid, cls=q.cls, phase=phase, snapshot=snap) as sp:
            try:
                with self.tracer.span("plan") as plan:
                    df = searcher.search(q.text, k=q.k)
                with self.tracer.span("exec") as ex:
                    rows = df.collect()
                rec["rows"] = [(int(r["docid"]), float(r["score"])) for r in rows]
                rec.update(plan_ms=plan.seconds * 1000, exec_ms=ex.seconds * 1000)
            except Exception:  # a failed query counts toward error_rate; the run goes on
                self.fail(f"query {rid} {q.text!r} on {snap}: {traceback.format_exc(limit=3)}")
        rec.update(start=sp.start, end=sp.end, ms=sp.seconds * 1000)
        with self._lock:
            self.queries.append(rec)
        return rec

    def open_searcher(self, snap: str, warm: bool):
        """A ``Searcher`` pinned to ``snap``; with ``warm``, plus one untimed
        query, which fills its caches.  Otherwise the first query on it
        fills them."""
        from gitlab_elasticsearch_indexer_spark.plans.search import Searcher

        with self.tracer.span("open", f"open-{snap}") as sp:
            s = Searcher(self.spark, self.index, snapshot=snap)
        self.opens.append({"snapshot": snap, "s": sp.seconds})
        if warm:
            self.query(s, snap, "open", timed=False)
        return s

    # ---------------------------------------------------------------- phases
    def serve(self) -> None:
        self.searcher = self.open_searcher("s1", warm=True)
        t0 = time.time()
        deadline = t0 + self.seconds
        self.client_rates: list[float] = []

        def client():
            done, last = 0, t0
            while time.time() < deadline:
                rec = self.query(self.searcher, "s1", "serve")
                done += rec["rows"] is not None
                last = rec["end"]
            # each client's own rate over its own span, summed: no client
            # idles at the end of the window as it would in one shared span
            if done:
                with self._lock:
                    self.client_rates.append(done / (last - t0))

        run_threads(client, CLIENTS)

    def delta(self) -> None:
        from gitlab_elasticsearch_indexer_spark.plans.incremental import apply_delta

        current = [(self.searcher, "s1")]  # one slot: a reader sees a matching pair
        stop = threading.Event()
        need_timed = stats.min_samples(TAIL_Q)  # over the serve and delta phases

        def reader():
            while not stop.is_set():
                self.query(*current[0], "delta")

        threads = start_threads(reader, READERS)
        try:
            delta = self.spark.read.parquet(self.delta_path)
            self.attempted += 1
            with self.tracer.span("apply", "apply-d1") as sp:
                cat = apply_delta(self.spark, self.index, delta, "d1")
            self.apply = {"depth": cat.chain_depth, "rid": sp.rid, "start": sp.start, "end": sp.end}
            self.check_snapshot("apply", cat, "d1")
            current[0] = (self.open_searcher("d1", warm=False), "d1")
            # the readers go on until the new snapshot has served a query and
            # the run holds enough timed queries for the tail percentile
            give_up = time.time() + 60
            while time.time() < give_up and (
                not any(q["snapshot"] == "d1" and q["rows"] is not None for q in self.queries)
                or sum(q["timed"] for q in self.queries) < need_timed
            ):
                time.sleep(0.1)
        finally:
            stop.set()
            for t in threads:
                t.join()

    # ---------------------------------------------------------- verification
    def verify_queries(self) -> None:
        rankings = {}
        for rec in self.queries:
            if rec["rows"] is None:
                continue  # already counted as failed
            key = (rec["snapshot"], rec["qi"])
            if key not in rankings:
                q = self.inp.pool[rec["qi"]]
                rankings[key] = self.oracle.topk(self.live[rec["snapshot"]], q.terms, q.k)
            if not rankings[key].matches(rec["rows"]):
                q = self.inp.pool[rec["qi"]]
                self.fail(f"query {rec['rid']} {q.text!r} on {rec['snapshot']}: top-{q.k} differs from the oracle")
        for snap in self.live.keys() - {snap for snap, _ in rankings}:
            self.fail(f"no query ran on snapshot {snap}")
        self.attempted += len(self.queries)

    # --------------------------------------------------------------- metrics
    def end_to_end(self) -> dict[str, float]:
        timed = [q for q in self.queries if q["timed"] and q["rows"] is not None]
        ms = [q["ms"] for q in timed]

        def cls_p50(c):
            return stats.median([q["ms"] for q in timed if q["cls"] == c])

        snap = os.path.join(self.index, "s1")
        index_bytes = sum(dir_bytes(os.path.join(snap, t)) for t in ("docs", "segments", "term_stats", "lineage"))
        text_bytes = sum(len(self.inp.text(v)) for v in range(self.inp.n_base))
        return {
            "setup_s": self.setup_s,
            "build_docs_per_s": self.inp.n_base / self.build_span.seconds,
            "index_bytes_per_text_byte": index_bytes / text_bytes,
            "query_p50_ms": stats.median(ms),
            f"query_p{TAIL_Q}_ms": stats.percentile(ms, TAIL_Q),
            "qps": sum(self.client_rates),
            "rare_query_p50_ms": cls_p50("rare"),
            "head_query_p50_ms": cls_p50("head"),
            "delta_apply_s": self.apply["end"] - self.apply["start"],
        }


def start_threads(fn, n: int) -> list[threading.Thread]:
    threads = [threading.Thread(target=fn, name=f"{fn.__name__}-{i}") for i in range(n)]
    for t in threads:
        t.start()
    return threads


def run_threads(fn, n: int) -> None:
    for t in start_threads(fn, n):
        t.join()


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie (an exited process that
    its new parent has not reaped yet)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM it launched, and wait for every process this
    run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    me = os.getpid()
    tree = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in tree if running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    log(f"killed leftover processes {alive}")


def main(argv=None) -> int:
    t_process = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="length of the serve phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, tr.PKG)):
        log(f"the engine package {tr.PKG}/ is not next to perfbench/; nothing to measure")
        return 2

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    sampler = RssSampler().start()
    spark = None

    def mark(phase: str, detail: str = "") -> None:
        bench.marks[phase] = round(time.time() - t_process, 2)
        log(f"{phase} done at {bench.marks[phase]:.1f}s {detail}")

    try:
        bench.setup(t_process)
        spark = bench.spark
        mark("setup")
        bench.build()
        mark("build", f"(build_index {bench.build_span.seconds:.1f}s)")
        bench.serve()
        mark("serve", f"({sum(q['phase'] == 'serve' for q in bench.queries)} queries)")
        bench.delta()
        mark("delta", f"(apply_delta {bench.apply['end'] - bench.apply['start']:.1f}s)")
        bench.verify_queries()
        bench.peak_rss_mb = sampler.stop()
        metrics = bench.end_to_end()
        if bench.traced:
            bench.tracer.write(os.path.join(bench.out, "spans.jsonl"))
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
            mark("stop")
    return report(bench, metrics)


def report(bench: Bench, metrics: dict[str, float]) -> int:
    failed = len(bench.failures)
    print(f"workload={bench.workload} seed={bench.seed} "
          f"attempted={bench.attempted} failed={failed} error_rate={failed / bench.attempted:.4g}")
    timed = [q for q in bench.queries if q["timed"]]
    print(f"timed queries={len(timed)} (serve {sum(q['phase'] == 'serve' for q in timed)}, "
          f"delta {sum(q['phase'] == 'delta' for q in timed)}), peak RSS {bench.peak_rss_mb:.0f} MB")
    for name, unit in END_TO_END.items():
        print(f"  {name:28s} {metrics[name]:12.4f} {unit}")
    if bench.traced:
        import layers

        per_layer = layers.per_layer(bench)
        layers.write_report(bench, metrics, per_layer)
        out = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    shutil.rmtree(bench.work, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": out}
    with open(os.path.join(bench.out, "result.json"), "w") as f:
        json.dump(result | {
            "end_to_end": metrics,
            "phase_done_at_s": bench.marks,
            "peak_rss_mb": bench.peak_rss_mb,
            "queries": [[q["phase"], q["cls"], q["snapshot"], round(q["ms"], 3)]
                        for q in bench.queries if q["rows"] is not None],
        }, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
