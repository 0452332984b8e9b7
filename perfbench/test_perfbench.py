"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing as tr  # noqa: E402
from oracle import Bm25Oracle, Ranking  # noqa: E402
from rss import RssSampler, process_tree  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_build_query.jsonl")


def _reference_oracle():
    """The repository's pure-pandas BM25 oracle, loaded by path."""
    path = os.path.join(os.path.dirname(HERE), "tests", "oracle_bm25.py")
    spec = importlib.util.spec_from_file_location("oracle_bm25", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------- generator

def test_generator_is_deterministic_per_seed():
    a, b, c = gen.make_inputs(5, 400), gen.make_inputs(5, 400), gen.make_inputs(6, 400)
    for f in ("docid", "url", "lang", "ts_us", "offsets", "tokens", "stream", "words"):
        assert np.array_equal(getattr(a, f), getattr(b, f)), f
    assert [q.text for q in a.pool] == [q.text for q in b.pool]
    assert np.array_equal(a.delta.put, b.delta.put) and np.array_equal(a.delta.removed, b.delta.removed)
    assert not np.array_equal(a.tokens[:1000], c.tokens[:1000])


def test_generator_shapes():
    inp = gen.make_inputs(3, 2000)
    base = np.arange(inp.n_base)
    df = gen.doc_freq(inp.offsets, inp.tokens, base)
    for q in inp.pool:
        assert len(set(q.text.split())) == len(q.terms)
        if q.cls == "rare":
            assert all(1 <= df[t] <= max(1, int(gen.RARE_DF_SHARE * inp.n_base)) for t in q.terms)
        if q.cls == "head":
            assert q.k == 100 and 1 <= len(q.terms) <= 2
    # timestamps carry microseconds; docids of the base corpus keep the gap
    assert (inp.ts_us[base] % 1_000_000 != 0).any()
    assert np.array_equal(inp.docid[base], base * gen.DOCID_GAP)
    d = inp.delta
    assert len(d.added) == round(gen.ADD_SHARE * round(gen.DELTA_SHARE * inp.n_base))
    assert inp.docid[d.added].min() > inp.docid[base].max()
    # modified pages keep their docid and url
    assert np.array_equal(inp.docid[d.modified[:, 0]], inp.docid[d.modified[:, 1]])
    assert np.array_equal(inp.url[d.modified[:, 0]], inp.url[d.modified[:, 1]])


# ------------------------------------------------------------------- oracle

def test_numpy_oracle_matches_reference_oracle():
    ref = _reference_oracle()
    inp = gen.make_inputs(2, 300)
    base = np.arange(inp.n_base)
    docs = pd.DataFrame({"docid": inp.docid[base], "content": [inp.text(v) for v in base]})
    live = np.arange(len(inp.docid)) < inp.n_base
    oracle = Bm25Oracle(inp.docid, inp.offsets, inp.tokens, gen.VOCAB)
    for q in inp.pool[::5]:
        want = ref.bm25_topk(docs, q.text, q.k)
        got = oracle.topk(live, q.terms, q.k)
        assert got.docids == want["docid"].tolist(), q.text
        assert np.allclose(got.scores, want["score"].to_numpy(), rtol=0, atol=1e-12)


def test_oracle_follows_snapshots():
    inp = gen.make_inputs(4, 500)
    oracle = Bm25Oracle(inp.docid, inp.offsets, inp.tokens, gen.VOCAB)
    live = np.arange(len(inp.docid)) < inp.n_base
    d = inp.delta
    after = live.copy()
    after[d.removed] = False
    after[d.put] = True
    n0, _ = oracle.collection(live)
    n1, _ = oracle.collection(after)
    assert n1 == n0 + len(d.added) - len(d.deleted)
    gone = int(d.deleted[0])
    word = inp.tokens[inp.offsets[gone]]
    assert inp.docid[gone] not in oracle.topk(after, [word], 10**6).docids


def test_ranking_accepts_ties_only():
    r = Ranking([1, 2, 3], [2.0, 1.0, 1.0], {1: 2.0, 2: 1.0, 3: 1.0, 4: 1.0, 5: 0.5})
    assert r.matches([(1, 2.0), (2, 1.0), (3, 1.0)])
    assert r.matches([(1, 2.0), (3, 1.0), (2, 1.0)])  # tie, other order
    assert r.matches([(1, 2.0), (2, 1.0), (4, 1.0 + 1e-9)])  # tie at the cut
    assert not r.matches([(1, 2.0), (2, 1.0), (5, 1.0)])  # wrong doc, right score
    assert not r.matches([(1, 2.0), (2, 1.0)])  # short
    assert not r.matches([(1, 2.0), (2, 1.0), (3, 1.001)])  # score off
    assert not r.matches([(1, 2.0), (2, 1.0), (2, 1.0)])  # duplicate


# --------------------------------------------------------------- percentile

def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs[::-1], 80) == 80
    assert stats.percentile(list(range(1, 51)), 80) == 40


def test_percentile_needs_ten_samples_beyond():
    assert stats.min_samples(90) == 100
    assert stats.min_samples(80) == 50
    assert stats.min_samples(95) == 200
    stats.percentile(range(100), 90)
    with pytest.raises(ValueError):
        stats.percentile(range(99), 90)
    stats.percentile(range(50), 80)
    with pytest.raises(ValueError):
        stats.percentile(range(49), 80)


# ---------------------------------------------------------------- attribution

def test_event_log_jobs_and_executions():
    jobs, execs = tr.read_event_log(FIXTURE)
    build = tr.jobs_in(jobs, "build1")
    assert len(build) == 20
    assert sum(j.tasks for j in build) == 115
    assert sum(j.shuffle_write_bytes for j in build) == 5_820_719
    assert {x.id: x.table for x in execs.values()} == {
        1: "docs", 2: None, 3: None, 4: "segments", 5: "lineage", 6: "term_stats", 7: None, 8: None,
    }
    assert {j.callsite for j in jobs.values() if j.execution == 3} == {"operators/postings.py"}
    query = tr.jobs_in(jobs, "q1")
    assert len(query) == 7 and query[0].callsite == "operators/wand.py"
    assert all(0 < j.sched_wait_s < 0.1 for j in query)


def test_build_phase_attribution():
    jobs, execs = tr.read_event_log(FIXTURE)
    # the build span: from just before its first Spark item to the end of its last
    start, end = 1792183450.81, 1792183468.957
    got = tr.build_phases(jobs, execs, "build1", start, end)
    want = {  # seconds in which each phase's Spark items run
        "docs_pass": 5.511,  # pages schema read + docs write
        "term_dict": 1.557,  # collect at operators/postings.py
        "postings": 7.245,  # segments write
        "collection_stats": 0.301,  # docs schema read + collect at plans/build_index.py
        "lineage": 0.363,
        "term_stats": 1.228,  # segments listing + schema read + term_stats write
        "unattributed": 1.942,  # the gaps between items
        "driver": 1.942,  # no Spark item running
    }
    assert {k: round(v, 3) for k, v in got.items()} == want
    assert sum(v for k, v in got.items() if k != "driver") == pytest.approx(end - start)
    # named phases cover 89.3 % of this build's wall time
    assert 1 - got["unattributed"] / (end - start) == pytest.approx(0.893, abs=5e-4)
    # time after the last item is reported, not dropped
    later = tr.build_phases(jobs, execs, "build1", start, end + 2.0)
    assert later["unattributed"] == pytest.approx(1.942 + 2.0)


def test_build_phases_do_not_count_overlap_twice():
    jobs = {
        1: tr.Job(1, "b", None, "plans/build_index.py", 0.0, 4.0),
        2: tr.Job(2, "b", None, "operators/postings.py", 3.0, 6.0),
        3: tr.Job(3, "b", None, None, 7.0, 8.0),  # unphased, no phased item after it
    }
    got = tr.build_phases(jobs, {}, "b", 0.0, 10.0)
    assert got["collection_stats"] == pytest.approx(4.0)
    assert got["term_dict"] == pytest.approx(2.0)  # 3..4 is already claimed
    assert got["unattributed"] == pytest.approx(4.0)  # 6..10, job 3 included
    assert got["driver"] == pytest.approx(3.0)


def test_self_times():
    spans = [
        tr.Span("query", "q1", None, 1, 0.0, 10.0),
        tr.Span("plan", "q1", 1, 2, 1.0, 4.0),
        tr.Span("exec", "q1", 1, 3, 3.0, 9.0),
    ]
    got = tr.self_times(spans)
    assert got["query"]["self_s"] == pytest.approx(2.0)  # 10 - union(1..9)
    assert got["plan"]["self_s"] == pytest.approx(3.0)


def test_tracer_records_only_when_enabled():
    off, on = tr.Tracer(None, False), tr.Tracer(None, True)
    for t in (off, on):
        with t.span("query", "q1") as sp:
            with t.span("plan") as child:
                pass
        assert sp.seconds >= child.seconds >= 0 and child.rid == "q1" and child.parent == sp.sid
    assert off.spans == [] and [s.name for s in on.spans] == ["plan", "query"]


# ---------------------------------------------------------------------- rss

def test_rss_sampler_sees_this_process():
    assert os.getpid() in process_tree(os.getpid())
    sampler = RssSampler(interval=0.01).start()
    peak_mb = sampler.stop()
    assert peak_mb > 1
