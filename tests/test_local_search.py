"""The in-process block-max path (operators/local_search.py): rank identity
with the Spark scorers on every test index and on chained snapshots, under
both operators and for phrase queries, one output schema for every path, the
query profile, zero Spark jobs and zero py4j calls per local query, a
local result frame equal to its JVM-built twin, thread safety of a shared
Searcher, and the known read schemas of the index tables."""

import json
import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F

from gitlab_elasticsearch_indexer_spark.operators import wand
from gitlab_elasticsearch_indexer_spark.operators.search import analyze_query_seq
from gitlab_elasticsearch_indexer_spark.operators.wand import search_blockmax
from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
from gitlab_elasticsearch_indexer_spark.plans.incremental import apply_delta
from gitlab_elasticsearch_indexer_spark.plans.search import Searcher
from gitlab_elasticsearch_indexer_spark.sources import catalog as cat
from gitlab_elasticsearch_indexer_spark.sources.pages import pages_from_documents, pages_phrase

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
    """s1 built over docids spread across 4 ranges, with positions, then d1
    and d2 chained deltas, each modifying, deleting and adding docs."""
    d = str(tmp_path_factory.mktemp("lchain"))
    pages = pages_from_documents(spark, SF_SMALL).withColumn("doc_id", F.col("doc_id") * 64)
    build_index(spark, pages, d, snapshot="s1", extra_fields={"url": "path"}, with_positions=True)
    apply_delta(spark, d, _delta(pages, 0), "d1")
    apply_delta(spark, d, _delta(pages, 1), "d2")
    return d


def _rank_equal(got, want):
    assert got["docid"].tolist() == want["docid"].tolist()
    assert got["score"].tolist() == pytest.approx(want["score"].tolist(), rel=1e-12)


# search_blockmax forced into regime 2, then regime 3, on a small index
REGIMES = (
    {"range_batch": 1, "n_ranges_hint": 1},
    {"range_batch": 1, "n_ranges_hint": 10**6, "super_threshold": 1, "super_shift": 1},
)


def _spark_blockmax(spark, s: Searcher, query, k, field="content", operator="or",
                    doc_filter=None, phrase=None, **regime):
    _, _, avgdl, dl_col = s._field_conf(field)
    return search_blockmax(
        spark, s.segments, s.term_stats, s.docs.withColumn("dl", F.col(dl_col)),
        s.query_terms(query, field), k, avgdl, doc_filter,
        require_all=operator == "and", phrase=phrase, **regime,
    ).toPandas()


def _check_paths(spark, s: Searcher, query: str, k: int, field: str = "content",
                 operator: str = "or"):
    """local ≡ exhaustive ≡ Spark blockmax in regimes 2 and 3, under ``operator``."""
    prof: dict = {}
    kw = dict(k=k, with_docs=False, field=field, operator=operator)
    local = s.search(query, profile=prof, **kw).toPandas()
    assert prof["path"] == "local"
    _rank_equal(local, s.search(query, mode="exhaustive", **kw).toPandas())
    for regime in REGIMES:
        _rank_equal(local, _spark_blockmax(spark, s, query, k, field, operator, **regime))
    return local


def under_operators(cases):
    """Each case under ``or`` (id unchanged) and under ``and`` (id + "-and")."""
    return [
        pytest.param(*case, op, id="-".join(map(str, case)) + suffix)
        for op, suffix in (("or", ""), ("and", "-and"))
        for case in cases
    ]


@pytest.mark.parametrize("query,k,operator", under_operators(QUERIES))
def test_simple_index(spark, simple_idx, query, k, operator):
    s = Searcher(spark, simple_idx)
    got = _check_paths(spark, s, query, k, operator=operator)
    if query in ("", "?! ... ,;", "zzzqqq xyzzy"):
        assert len(got) == 0
    if k == 1000:
        assert 0 < len(got) < k  # every match returned


@pytest.mark.parametrize(
    "query,k,operator", under_operators([("tables values queries", 10), *QUERIES])
)
def test_default_index(spark, default_idx, query, k, operator):
    _check_paths(spark, Searcher(spark, default_idx), query, k, operator=operator)


@pytest.mark.parametrize("query,k,operator", under_operators(QUERIES))
def test_offsets_index(spark, offsets_idx, query, k, operator):
    _check_paths(spark, Searcher(spark, offsets_idx), query, k, operator=operator)


@pytest.mark.parametrize(
    "query,k,operator", under_operators([("doc7.html", 5), ("example.com src3", 50), ("", 5)])
)
def test_url_field(spark, chain_idx, query, k, operator):
    s = Searcher(spark, chain_idx, snapshot="s1")  # the chain's base: a url path field
    got = _check_paths(spark, s, query, k, field="url", operator=operator)
    if query == "doc7.html":
        assert got["docid"].tolist() == [7 * 64]


@pytest.mark.parametrize("snap", ["d1", "d2"])
@pytest.mark.parametrize(
    "query,k,field,operator",
    under_operators([
        ("query", 20, "content"),
        ("edited0 edited1", 1000, "content"),
        ("added0 added1 spark", 1000, "content"),
        ("customer data", 50, "content"),
        ("doc1.html doc5.html", 5, "url"),
    ]),
)
def test_chained_snapshot(spark, chain_idx, snap, query, k, field, operator):
    s = Searcher(spark, chain_idx, snapshot=snap)
    assert s.catalog.chain_depth == int(snap[1]) and s.local is not None
    got = _check_paths(spark, s, query, k, field, operator)
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


def test_and_absent_term_reads_no_block(spark, simple_idx, monkeypatch):
    """A query term the index lacks empties an ``and`` query on every path,
    and neither block-max driver reads a block for it."""
    s = Searcher(spark, simple_idx)
    query = "spark data zzzqqq"
    assert len(s.search(query, with_docs=False).toPandas()) > 0  # `or` matches

    def no_block_read(*args, **kwargs):
        raise AssertionError("blocks read for a query that cannot match")

    monkeypatch.setattr(s.local, "read_blocks", no_block_read)
    monkeypatch.setattr(wand, "filter_segments_for_terms", no_block_read)
    prof: dict = {}
    assert len(s.search(query, operator="and", profile=prof).toPandas()) == 0
    assert prof["path"] == "local" and prof["ranges_scored"] == 0
    assert len(s.search(query, operator="and", doc_filter=F.lit(True)).toPandas()) == 0
    for regime in REGIMES:
        assert len(_spark_blockmax(spark, s, query, 10, operator="and", **regime)) == 0
    assert len(s.search(query, mode="exhaustive", operator="and").toPandas()) == 0


@pytest.mark.parametrize("query", ["query", "customer"])
def test_single_term_and_equals_or(spark, simple_idx, query):
    s = Searcher(spark, simple_idx)
    for kwargs in ({}, {"mode": "exhaustive"}, {"doc_filter": F.lit(True)}):
        want = s.search(query, k=10, with_docs=False, **kwargs).toPandas()
        got = s.search(query, k=10, with_docs=False, operator="and", **kwargs).toPandas()
        assert len(want) > 0
        assert got.to_dict("list") == want.to_dict("list"), kwargs


def test_and_with_doc_filter(spark, simple_idx):
    """``and`` plus a ``doc_filter`` (the Spark blockmax path) matches the
    exhaustive scorer and the forced regimes, and the filter bites."""
    s = Searcher(spark, simple_idx)
    query, flt = "spark data", F.col("lang") == "en"
    prof: dict = {}
    got = s.search(query, k=1000, operator="and", doc_filter=flt, with_docs=False, profile=prof)
    got = got.toPandas()
    assert prof["path"] == "blockmax"
    ex = s.search(query, k=1000, mode="exhaustive", operator="and", doc_filter=flt, with_docs=False)
    _rank_equal(got, ex.toPandas())
    for regime in REGIMES:
        _rank_equal(got, _spark_blockmax(spark, s, query, 1000, "content", "and", flt, **regime))
    unfiltered = s.search(query, k=1000, operator="and", with_docs=False).toPandas()
    assert 0 < len(got) and set(got["docid"]) < set(unfiltered["docid"])


def test_and_terms_in_disjoint_ranges(spark, chain_idx):
    """Terms that never share a docid_range: every range lacks a term, so
    ``and`` returns nothing on every path."""
    s = Searcher(spark, chain_idx, snapshot="d2")
    query = "added0 added1"
    terms = s.query_terms(query)
    blocks = s.local.read_blocks(terms).to_pandas()
    ranges = [set(blocks["docid_range"][blocks["term"] == t]) for t in terms]
    assert all(ranges) and not ranges[0] & ranges[1]
    assert len(s.search(query, k=10, with_docs=False).toPandas()) > 0  # `or` matches
    assert len(_check_paths(spark, s, query, 10, operator="and")) == 0


@pytest.mark.parametrize(
    "kwargs", [{"mode": "exhastive"}, {"mode": "BLOCKMAX"}, {"operator": "AND"}, {"operator": "must"}]
)
def test_unknown_mode_or_operator_raises(spark, simple_idx, kwargs):
    s = Searcher(spark, simple_idx)
    with pytest.raises(ValueError, match=next(iter(kwargs))):
        s.search("spark data query", **kwargs)


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
                s.search(query, k=5, with_docs=with_docs, mode="exhaustive", operator="and"),
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
        for i, ((query, k), operator) in enumerate(
            (q, op) for q in QUERIES for op in ("or", "and")
        ):
            group = f"local-query-{i}"
            sc.setJobGroup(group, group)
            prof: dict = {}
            rows = s.search(query, k=k, operator=operator, profile=prof).collect()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], (query, operator)
            assert prof["path"] == "local"
            assert prof["terms"] == s.query_terms(query)
            if rows or operator == "or":  # an `and` may score ranges and match nothing
                assert (prof["ranges_scored"] > 0) == bool(rows)
            for phase in ("analyze_ms", "read_ms", "score_ms", "result_ms"):
                assert prof[phase] >= 0.0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_profile_on_spark_paths(spark, simple_idx):
    s = Searcher(spark, simple_idx)
    cases = [
        ({"mode": "exhaustive"}, "exhaustive"),
        ({"operator": "and"}, "local"),
        ({"mode": "exhaustive", "operator": "and"}, "exhaustive"),
        ({"doc_filter": F.col("lang") == "en"}, "blockmax"),
        ({"doc_filter": F.col("lang") == "en", "operator": "and"}, "blockmax"),
    ]
    for kwargs, path in cases:
        prof: dict = {}
        s.search("spark data query", k=5, profile=prof, **kwargs).collect()
        assert prof["path"] == path
        assert prof["terms"] == ["spark", "data", "query"]
        assert (prof["ranges_scored"] is None) == (path == "exhaustive")
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


@pytest.mark.parametrize("snap", ["s1", "d2"])
def test_open_launches_no_spark_job(spark, chain_idx, snap):
    """Opening a Searcher on a local-eligible index, chained or not, reads
    its state with pyarrow: the Spark-side tables wait for a Spark path."""
    sc = spark.sparkContext
    group = f"open-{snap}"
    try:
        sc.setJobGroup(group, group)
        s = Searcher(spark, chain_idx, snapshot=snap)
        s.search("data query", k=10).collect()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert not {"segments", "term_stats", "docs"} & vars(s).keys()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # a Spark path builds them once
    _rank_equal(s.search("data query", k=10, with_docs=False).toPandas(),
                s.search("data query", k=10, with_docs=False, mode="exhaustive").toPandas())
    assert s.docs is s.docs and s.segments is s.segments


@pytest.fixture(scope="module")
def tied_idx(spark, tmp_path_factory):
    """300 "alpha beta" and 300 "alpha gamma" docs under shuffled doc_ids
    spread over 5 docid_ranges: every doc of one text ties every other."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    from gitlab_elasticsearch_indexer_spark.schemas import PAGES

    texts = ["alpha beta"] * 300 + ["alpha gamma"] * 300
    doc_ids = np.random.default_rng(5).permutation(len(texts)) * 64
    pdf = pd.DataFrame({
        "url": [f"https://example.com/t{i}.txt" for i in doc_ids],
        "warc_ts": pd.Timestamp("2024-01-01"),
        "html": [t.encode() for t in texts],
        "text": texts,
        "lang": "en",
        "doc_id": doc_ids,
    })
    schema = T.StructType(list(PAGES.fields) + [T.StructField("doc_id", T.LongType())])
    d = str(tmp_path_factory.mktemp("ltied"))
    build_index(spark, spark.createDataFrame(pdf, schema), d, snapshot="s1")
    return d


@pytest.mark.parametrize("query", ["alpha", "alpha beta"])
@pytest.mark.parametrize("k", [1, 150, 450])
def test_ties_across_kth_place(spark, tied_idx, query, k):
    """The k-th place falls inside a tie: every path keeps the lowest
    docids of the tied docs, as the exhaustive orderBy(score desc, docid
    asc) does."""
    s = Searcher(spark, tied_idx)
    assert len(set(s.local.read_blocks(["alpha"])["docid_range"].to_pylist())) == 5
    for operator in ("or", "and"):
        got = _check_paths(spark, s, query, k, operator=operator)
        assert len(got) == (k if operator == "or" or query == "alpha" else min(k, 300))


def _fields(df):
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


@pytest.mark.parametrize("with_docs", [False, True])
def test_result_frame_equals_create_data_frame(spark, simple_idx, with_docs):
    """hits_frame builds the same frame as createDataFrame(table, schema):
    rows, schema and nullability, for empty, k=10 and k=100 results."""
    from gitlab_elasticsearch_indexer_spark.operators.local_search import LocalIndex
    from gitlab_elasticsearch_indexer_spark.operators.search import (
        HITS, HITS_WITH_DOCS, hits_frame,
    )

    s = Searcher(spark, simple_idx)
    schema = HITS_WITH_DOCS if with_docs else HITS
    for query, k in (("zzzqqq", 10), ("spark data query", 10), ("the data", 100)):
        table = LocalIndex.search(
            s.local, s.query_terms(query), k, s.catalog.avgdl, "dl", with_docs, {}
        )
        assert table.num_rows == (0 if query == "zzzqqq" else k)
        got, want = hits_frame(spark, table, schema), spark.createDataFrame(table, schema)
        assert got.schema == want.schema and _fields(got) == _fields(want)
        assert got.collect() == want.collect()
    empty = hits_frame(spark, schema=schema)
    assert _fields(empty) == _fields(spark.createDataFrame([], schema)) and empty.collect() == []


def test_result_frame_keeps_socket_path_under_io_encryption(spark, monkeypatch):
    """With spark.io.encryption.enabled no plaintext temp file is written:
    a Spark operation builds the JVM frame through pyspark's own (socket)
    path."""
    import pyarrow as pa

    from gitlab_elasticsearch_indexer_spark.operators.search import hits_frame

    table = pa.table({"docid": pa.array([3, 1], pa.int64()), "score": [2.0, 1.0]})
    calls = []
    create = spark.createDataFrame
    monkeypatch.setattr(spark.sparkContext, "_encryption_enabled", True)
    monkeypatch.setattr(spark, "createDataFrame", lambda *a: calls.append(a) or create(*a))
    monkeypatch.setattr("tempfile.mkstemp", None)  # any temp file fails the test
    frame = hits_frame(spark, table)
    assert [tuple(r) for r in frame.select("docid", "score").collect()] == [(3, 2.0), (1, 1.0)]
    assert len(calls) == 1


def test_local_search_makes_no_py4j_call(spark, simple_idx, default_idx, offsets_idx,
                                         monkeypatch):
    """A local search(), its collect() and its schema stay in the driver:
    no py4j command, with or without docs, empty or not, phrase too."""
    from py4j.clientserver import ClientServerConnection

    searchers = [Searcher(spark, d) for d in (simple_idx, default_idx, offsets_idx)]
    searchers[0].search("spark data query", k=10)  # session entry points resolve once
    sent: list[str] = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\n"):  # memory release of collected Java refs
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    for s in searchers:
        frames = [
            s.search(query, k=10, with_docs=with_docs)
            for with_docs in (False, True) for query in ("spark data query", "zzzqqq")
        ]
        if s.catalog.with_positions:
            frames += [s.phrase_search(p, k=10) for p in ("data query", "zzzqqq data")]
        for df in frames:
            df.collect(), df.schema, df.columns
        assert any(df.collect() for df in frames)
        assert sent == []


def test_local_frame_equals_jvm_frame(spark, simple_idx, tmp_path):
    """Every operation on a local result gives the rows and types of the
    same operation on the frame built through the JVM."""
    import pandas as pd
    from pyspark.sql import DataFrame

    s = Searcher(spark, simple_idx)
    for i, query in enumerate(("spark data query", "zzzqqq")):
        local = s.search(query, k=10)
        jvm = DataFrame(local._jdf, spark)  # the same result, built through the JVM
        for got, want in (
            (local, jvm),
            (local.select("docid"), jvm.select("docid")),
            (local.join(s.docs.select("docid", "dl"), "docid"),
             jvm.join(s.docs.select("docid", "dl"), "docid")),
        ):
            assert _fields(got) == _fields(want)
            assert got.collect() == want.collect()
        assert local.count() == jvm.count() == (0 if query == "zzzqqq" else 10)
        pd.testing.assert_frame_equal(local.toPandas(), jvm.toPandas())
        for name, df in (("local", local), ("jvm", jvm)):
            df.write.parquet(str(tmp_path / f"{name}{i}"))
        back = [spark.read.parquet(str(tmp_path / f"{n}{i}")) for n in ("local", "jvm")]
        assert _fields(back[0]) == _fields(back[1])
        assert sorted(back[0].collect()) == sorted(back[1].collect()) == sorted(jvm.collect())


def test_jvm_frame_built_once_under_threads(spark, monkeypatch):
    """Threads touching a fresh local frame's _jdf at once build it once."""
    import time

    import pyarrow as pa

    from gitlab_elasticsearch_indexer_spark.operators.search import HitsFrame, hits_frame

    frame = hits_frame(spark, pa.table({"docid": pa.array([3, 1], pa.int64()), "score": [2.0, 1.0]}))
    builds = []
    build = HitsFrame._build_jdf

    def slow_build(self):
        builds.append(1)
        time.sleep(0.2)
        return build(self)

    monkeypatch.setattr(HitsFrame, "_build_jdf", slow_build)
    barrier = threading.Barrier(8)
    got = [None] * 8

    def touch(i: int):
        barrier.wait(timeout=60)
        got[i] = frame._jdf

    threads = [threading.Thread(target=touch, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert all(j is got[0] for j in got) and got[0] is not None
    assert [tuple(r) for r in frame.orderBy("docid").collect()] == [(1, 1.0), (3, 2.0)]


@pytest.mark.parametrize("idx", ["simple_idx", "positions_idx", "offsets_idx", "chain_idx"])
def test_known_schema_equals_inferred(spark, idx, request):
    """SEGMENTS and LINEAGE, given to the reader, equal the schema Spark
    infers from the files (order, types, nullability, the bucket partition
    column) for every build option set and every snapshot of a chain."""
    from gitlab_elasticsearch_indexer_spark.schemas import LINEAGE, SEGMENTS

    d = request.getfixturevalue(idx)
    for snap, _ in cat.chain_claims(d, cat.current_snapshot(d)):
        for table, schema in (("segments", SEGMENTS), ("lineage", LINEAGE)):
            path = cat.table_path(d, table, snap)
            inferred = spark.read.parquet(path)
            known = spark.read.schema(schema).parquet(path)
            assert known.schema == inferred.schema, (snap, table)
        assert sorted(known.collect()) == sorted(inferred.collect())


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


# --- phrase queries: the same range kernel, with a positions check ---------

# (phrase, k): adjacent pair, reversed pair, three tokens, repeated term,
# k > matches, one token, absent term, empty
PHRASES = [
    ("data query", 10),
    ("query data", 10),
    ("spark data query", 10),
    ("value value", 5),
    ("the table", 1000),
    ("query", 10),
    ("data zzzqqq", 10),
    ("", 10),
]


@pytest.fixture(scope="module")
def positions_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lpositions"))
    build_index(spark, pages_from_documents(spark, SF_SMALL), d, snapshot="s1", with_positions=True)
    return d


@pytest.fixture(scope="module")
def phrase_url_idx(spark, tmp_path_factory):
    """Url paths hold "data query" adjacent (doc_id % 3 == 0) and apart
    (doc_id % 3 == 1)."""
    d = str(tmp_path_factory.mktemp("lphraseurl"))
    build_index(spark, pages_phrase(spark, SF_SMALL), d, snapshot="s1", with_positions=True,
                extra_fields={"url": "simple"})
    return d


def _token_seq(s: Searcher, phrase: str, field: str) -> list[str]:
    analyzer, prefix, _, _ = s._field_conf(field)
    return [prefix + t for t in analyze_query_seq(phrase, analyzer)]


def _phrase_reference(s: Searcher, phrase: str, k: int, field: str):
    """The exhaustive ``and`` ranking restricted to the docs whose analyzed
    token sequence holds the phrase's (a test-side adjacency oracle)."""
    analyzer = s._field_conf(field)[0]
    seq = analyze_query_seq(phrase, analyzer)

    def holds(text: str) -> bool:
        toks = analyze_query_seq(text or "", analyzer)
        return any(toks[i:i + len(seq)] == seq for i in range(len(toks) - len(seq) + 1))

    text = s.docs_content() if field == "content" else s.docs.select("docid", field)
    docids = [d for d, t in text.toPandas().itertuples(index=False) if seq and holds(t)]
    ex = s.search(phrase, k=s.catalog.n_docs, mode="exhaustive", operator="and",
                  field=field, with_docs=False).toPandas()
    return ex[ex["docid"].isin(docids)].head(k)


def _check_phrase(spark, s: Searcher, phrase: str, k: int, field: str = "content"):
    """local ≡ reference ≡ Spark blockmax in regimes 2 and 3."""
    assert s.local is not None
    got = s.phrase_search(phrase, k=k, field=field).toPandas()
    _rank_equal(got, _phrase_reference(s, phrase, k, field))
    seq = _token_seq(s, phrase, field)
    for regime in REGIMES:
        bm = _spark_blockmax(spark, s, phrase, k, field, "and",
                             phrase=seq if len(seq) > 1 else None, **regime)
        _rank_equal(got, bm)
    return got


@pytest.mark.parametrize("phrase,k", PHRASES)
def test_phrase_positions_index(spark, positions_idx, phrase, k):
    got = _check_phrase(spark, Searcher(spark, positions_idx), phrase, k)
    if phrase in ("data query", "the table", "value value"):
        assert len(got) > 0
    if k == 1000:
        assert 0 < len(got) < k


@pytest.mark.parametrize("phrase,k", [("data query", 10), ("value value", 5), ("the table", 1000)])
def test_phrase_offsets_index(spark, offsets_idx, phrase, k):
    _check_phrase(spark, Searcher(spark, offsets_idx), phrase, k)


@pytest.mark.parametrize("phrase,k", [("data query", 1000), ("query data", 1000)])
def test_phrase_url_field(spark, phrase_url_idx, phrase, k):
    got = _check_phrase(spark, Searcher(spark, phrase_url_idx), phrase, k, field="url")
    if phrase == "data query":
        assert len(got) > 0 and set(got["docid"] % 3) == {0}


@pytest.mark.parametrize("snap", ["d1", "d2"])
@pytest.mark.parametrize("phrase,k", [("edited0 query", 1000), ("data query", 20)])
def test_phrase_chained_snapshot(spark, chain_idx, snap, phrase, k):
    s = Searcher(spark, chain_idx, snapshot=snap)
    got = _check_phrase(spark, s, phrase, k)
    assert len(got) > 0
    assert set(got["docid"]) <= set(s.local.docid.tolist())


def test_repeated_term_phrase_is_not_block_skipped(spark, tmp_path):
    """More than a block of short docs with many non-adjacent "value"s
    outscore the long "value value" docs after them: single-term block
    skipping would stop after the short docs' blocks and return nothing."""
    import pandas as pd
    import pyspark.sql.types as T

    from gitlab_elasticsearch_indexer_spark.schemas import PAGES

    filler = lambda n: " ".join(f"w{j}" for j in range(n))  # noqa: E731
    texts = ["value a value b value c value"] * 256 + [
        f"value value {filler(n)}" for n in (200, 150, 300)
    ]
    pdf = pd.DataFrame({
        "url": [f"https://example.com/v{i}.txt" for i in range(len(texts))],
        "warc_ts": pd.Timestamp("2024-01-01"),
        "html": [t.encode() for t in texts],
        "text": texts,
        "lang": "en",
        "doc_id": range(len(texts)),
    })
    schema = T.StructType(list(PAGES.fields) + [T.StructField("doc_id", T.LongType())])
    d = str(tmp_path / "trap")
    build_index(spark, spark.createDataFrame(pdf, schema), d, snapshot="s1", with_positions=True)
    s = Searcher(spark, d)
    or_top = s.search("value", k=1, with_docs=False).toPandas()
    assert or_top["docid"].tolist()[0] < 256  # a short doc has the best score
    assert _check_phrase(spark, s, "value value", 1)["docid"].tolist() == [257]


def test_phrase_absent_term_reads_no_block(spark, positions_idx, monkeypatch):
    s = Searcher(spark, positions_idx)
    assert len(s.phrase_search("data query").toPandas()) > 0

    def no_block_read(*args, **kwargs):
        raise AssertionError("blocks read for a phrase that cannot match")

    monkeypatch.setattr(s.local, "read_blocks", no_block_read)
    monkeypatch.setattr(wand, "filter_segments_for_terms", no_block_read)
    assert len(s.phrase_search("data zzzqqq query").toPandas()) == 0
    seq = _token_seq(s, "data zzzqqq query", "content")
    for regime in REGIMES:
        bm = _spark_blockmax(spark, s, "data zzzqqq query", 10, operator="and", phrase=seq, **regime)
        assert len(bm) == 0


@pytest.mark.parametrize("phrase", ["query", "customer"])
def test_single_token_phrase_equals_or(spark, positions_idx, phrase):
    s = Searcher(spark, positions_idx)
    want = s.search(phrase, k=10, with_docs=False).toPandas()
    assert len(want) > 0
    assert s.phrase_search(phrase, k=10).toPandas().to_dict("list") == want.to_dict("list")


def test_local_phrase_launches_no_spark_job(spark, positions_idx):
    s = Searcher(spark, positions_idx)
    sc = spark.sparkContext
    try:
        for i, (phrase, k) in enumerate(PHRASES):
            group = f"local-phrase-{i}"
            sc.setJobGroup(group, group)
            s.phrase_search(phrase, k=k).collect()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], phrase
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("k", [0, -1])
def test_k_below_one_raises(spark, positions_idx, k):
    """Every path refuses k < 1 alike (the local kernel used to fail inside
    np.partition on a single term, the exhaustive scorer to return nothing,
    top_k to drop one row for k=-1)."""
    s = Searcher(spark, positions_idx)
    calls = [
        lambda: s.search("query", k=k),
        lambda: s.search("spark data", k=k),
        lambda: s.search("query", k=k, mode="exhaustive"),
        lambda: s.search("query", k=k, doc_filter=F.lit(True)),
        lambda: s.phrase_search("data query", k=k),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="k must be at least 1"):
            call()
