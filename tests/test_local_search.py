"""The in-process block-max path (operators/local_search.py): rank identity
with the Spark scorers on every test index and on chained snapshots, one
output schema for every path, the query profile, zero Spark jobs per local
query, and thread safety of a shared Searcher."""

import json
import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F

from gitlab_elasticsearch_indexer_spark.operators.wand import search_blockmax
from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
from gitlab_elasticsearch_indexer_spark.plans.incremental import apply_delta
from gitlab_elasticsearch_indexer_spark.plans.search import Searcher
from gitlab_elasticsearch_indexer_spark.sources import catalog as cat
from gitlab_elasticsearch_indexer_spark.sources.pages import (
    pages_from_documents,
    pages_with_specials,
)

from conftest import SF_SMALL

# (query, k): head term, multi-term, k > matches, empty, punctuation only,
# all terms absent
QUERIES = [
    ("query", 10),
    ("spark data query", 10),
    ("customer merge window", 1000),
    ("", 10),
    ("?! ... ,;", 10),
    ("zzzqqq xyzzy", 10),
]


@pytest.fixture(scope="module")
def simple_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lsimple"))
    build_index(spark, pages_with_specials(spark, SF_SMALL), d, analyzer="simple", snapshot="s1")
    return d


@pytest.fixture(scope="module")
def default_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ldefault"))
    build_index(spark, pages_from_documents(spark, SF_SMALL), d, analyzer="default", snapshot="s1")
    return d


@pytest.fixture(scope="module")
def offsets_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("loffsets"))
    build_index(spark, pages_from_documents(spark, SF_SMALL), d, snapshot="s1", with_offsets=True)
    return d


def _delta(pages, step: int):
    """MODIFIED (text gains a marker term), DELETED and ADDED rows."""
    rows = F.col("doc_id") / 64
    mod = (
        pages.filter(rows % 9 == step)
        .withColumn("op", F.lit("MODIFIED"))
        .withColumn("old_url", F.lit(None).cast("string"))
        .withColumn("text", F.concat(F.col("text"), F.lit(f" edited{step} query")))
    )
    dele = (
        pages.filter(rows % 9 == step + 4)
        .withColumn("op", F.lit("DELETED"))
        .withColumn("old_url", F.col("url"))
    )
    add = (
        pages.filter(rows % 9 == step + 2)
        .withColumn("op", F.lit("ADDED"))
        .withColumn("old_url", F.lit(None).cast("string"))
        .withColumn("url", F.concat(F.col("url"), F.lit(f"/added{step}")))
        .withColumn("doc_id", F.col("doc_id") + 100_000 * (step + 1))
        .withColumn("text", F.concat(F.col("text"), F.lit(f" added{step}")))
    )
    out = mod.unionByName(dele).unionByName(add)
    return out.withColumn("html", F.encode(F.col("text"), "UTF-8"))


@pytest.fixture(scope="module")
def chain_idx(spark, tmp_path_factory):
    """s1 built over docids spread across 4 ranges, then d1 and d2 chained
    deltas, each modifying, deleting and adding docs."""
    d = str(tmp_path_factory.mktemp("lchain"))
    pages = pages_from_documents(spark, SF_SMALL).withColumn("doc_id", F.col("doc_id") * 64)
    build_index(spark, pages, d, snapshot="s1", extra_fields={"url": "path"})
    apply_delta(spark, d, _delta(pages, 0), "d1")
    apply_delta(spark, d, _delta(pages, 1), "d2")
    return d


def _rank_equal(got, want):
    assert got["docid"].tolist() == want["docid"].tolist()
    assert got["score"].tolist() == pytest.approx(want["score"].tolist(), rel=1e-12)


def _check_paths(spark, s: Searcher, query: str, k: int, field: str = "content"):
    prof: dict = {}
    local = s.search(query, k=k, with_docs=False, field=field, profile=prof).toPandas()
    assert prof["path"] == "local"
    ex = s.search(query, k=k, mode="exhaustive", with_docs=False, field=field).toPandas()
    _rank_equal(local, ex)
    _, _, avgdl, dl_col = s._field_conf(field)
    regime2 = search_blockmax(
        spark, s.segments, s.term_stats, s.docs.withColumn("dl", F.col(dl_col)),
        s.query_terms(query, field), k, avgdl, range_batch=1, n_ranges_hint=10**6,
    ).toPandas()
    _rank_equal(local, regime2)
    return local


@pytest.mark.parametrize("query,k", QUERIES)
def test_simple_index(spark, simple_idx, query, k):
    s = Searcher(spark, simple_idx)
    got = _check_paths(spark, s, query, k)
    if query in ("", "?! ... ,;", "zzzqqq xyzzy"):
        assert len(got) == 0
    if k == 1000:
        assert 0 < len(got) < k  # every match returned


@pytest.mark.parametrize("query,k", [("tables values queries", 10), *QUERIES])
def test_default_index(spark, default_idx, query, k):
    _check_paths(spark, Searcher(spark, default_idx), query, k)


@pytest.mark.parametrize("query,k", QUERIES)
def test_offsets_index(spark, offsets_idx, query, k):
    _check_paths(spark, Searcher(spark, offsets_idx), query, k)


@pytest.mark.parametrize("query,k", [("doc7.html", 5), ("example.com src3", 50), ("", 5)])
def test_url_field(spark, chain_idx, query, k):
    s = Searcher(spark, chain_idx, snapshot="s1")  # the chain's base: a url path field
    got = _check_paths(spark, s, query, k, field="url")
    if query == "doc7.html":
        assert got["docid"].tolist() == [7 * 64]


@pytest.mark.parametrize("snap", ["d1", "d2"])
@pytest.mark.parametrize(
    "query,k,field",
    [
        ("query", 20, "content"),
        ("edited0 edited1", 1000, "content"),
        ("added0 added1 spark", 1000, "content"),
        ("customer data", 50, "content"),
        ("doc1.html doc5.html", 5, "url"),
    ],
)
def test_chained_snapshot(spark, chain_idx, snap, query, k, field):
    s = Searcher(spark, chain_idx, snapshot=snap)
    assert s.catalog.chain_depth == int(snap[1]) and s.local is not None
    got = _check_paths(spark, s, query, k, field)
    live = set(s.docs.select("docid").toPandas()["docid"])
    assert set(got["docid"]) <= live  # no deleted or replaced doc scores


def test_chain_marks_every_delta_doc(spark, chain_idx):
    """Modified docs carry their marker term, added docs exist, deleted
    docs are gone — in the local index's own docs arrays."""
    s = Searcher(spark, chain_idx, snapshot="d2")
    pages = pages_from_documents(spark, SF_SMALL).select("doc_id").toPandas()["doc_id"] * 64
    rows = pages // 64
    edited = s.search("edited1", k=1000, with_docs=False).toPandas()
    assert sorted(edited["docid"]) == sorted(pages[rows % 9 == 1])
    deleted = set(pages[(rows % 9 == 4) | (rows % 9 == 5)])
    assert deleted and not deleted & set(s.local.docid.tolist())
    assert s.local.docid.size == s.catalog.n_docs


def test_output_schema_matches_spark_paths(spark, simple_idx):
    s = Searcher(spark, simple_idx)

    def fields(df):
        return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]

    keep_all = F.lit(True)  # a doc_filter routes blockmax to Spark
    for with_docs in (False, True):
        for query in ("spark data query", ""):
            local = s.search(query, k=5, with_docs=with_docs)
            for spark_df in (
                s.search(query, k=5, with_docs=with_docs, mode="exhaustive"),
                s.search(query, k=5, with_docs=with_docs, doc_filter=keep_all),
                s.search(query, k=5, with_docs=with_docs, operator="and"),
            ):
                assert fields(local) == fields(spark_df)
            ex = s.search(query, k=5, with_docs=with_docs, mode="exhaustive")
            # every column but the score, which test_simple_index compares
            assert [r[:1] + r[2:] for r in local.collect()] == [
                r[:1] + r[2:] for r in ex.collect()
            ]


def test_local_query_launches_no_spark_job(spark, simple_idx):
    s = Searcher(spark, simple_idx)
    sc = spark.sparkContext
    try:
        for i, (query, k) in enumerate(QUERIES):
            group = f"local-query-{i}"
            sc.setJobGroup(group, group)
            prof: dict = {}
            rows = s.search(query, k=k, profile=prof).collect()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], query
            assert prof["path"] == "local"
            assert prof["terms"] == s.query_terms(query)
            assert (prof["ranges_scored"] > 0) == bool(rows)
            for phase in ("analyze_ms", "read_ms", "score_ms", "result_ms"):
                assert prof[phase] >= 0.0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_profile_on_spark_paths(spark, simple_idx):
    s = Searcher(spark, simple_idx)
    cases = [
        ({"mode": "exhaustive"}, "exhaustive"),
        ({"operator": "and"}, "and"),
        ({"doc_filter": F.col("lang") == "en"}, "blockmax"),
    ]
    for kwargs, path in cases:
        prof: dict = {}
        s.search("spark data query", k=5, profile=prof, **kwargs).collect()
        assert prof["path"] == path
        assert prof["terms"] == ["spark", "data", "query"]
        assert (prof["ranges_scored"] is None) == (path != "blockmax")
        assert {"analyze_ms", "score_ms", "result_ms"} <= prof.keys()


def test_threads_share_one_searcher(spark, simple_idx):
    """More client threads than cores, with frequent thread switches, on
    one Searcher: every thread sees the single-threaded results."""
    s = Searcher(spark, simple_idx)
    queries = [q for q, _ in QUERIES] * 3
    want = [s.search(q, k=10, with_docs=True).collect() for q in queries]
    n_threads = 2 * len(os.sched_getaffinity(0))
    got: dict[int, list] = {}

    def client(t: int):
        got[t] = [s.search(q, k=10, with_docs=True).collect() for q in queries]

    threads = [threading.Thread(target=client, args=(t,)) for t in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert [got.get(t) for t in range(n_threads)] == [want] * n_threads


def test_delta_keeps_field_analyzer_version(spark, chain_idx, tmp_path):
    """apply_delta carries each field's analyzer_version forward, so the
    Searcher's per-field guard still catches a mismatch on a delta
    snapshot."""
    d = str(tmp_path / "tampered")
    shutil.copytree(chain_idx, d)
    base = cat.read_catalog(d, "s1").fields["url"]["analyzer_version"]
    assert base is not None
    assert cat.read_catalog(d, "d1").fields["url"]["analyzer_version"] == base
    path = os.path.join(cat.snapshot_dir(d, "d1"), "catalog.json")
    with open(path) as f:
        doc = json.load(f)
    doc["fields"]["url"]["analyzer_version"] = base + "-tampered"
    with open(path, "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="analyzer"):
        Searcher(spark, d, snapshot="d1")
