"""The snapshot commit path (plans/build_index.commit) that build_index,
apply_delta and compact share: the '-' lineage row of a snapshot that
claims no range, chain resolution through such a snapshot, and the commit
barrier — a failure inside commit leaves ``current`` on the parent."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gitlab_elasticsearch_indexer_spark.plans import build_index as bi
from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
from gitlab_elasticsearch_indexer_spark.plans.incremental import apply_delta, compact
from gitlab_elasticsearch_indexer_spark.plans.search import Searcher
from gitlab_elasticsearch_indexer_spark.sources import catalog as cat
from gitlab_elasticsearch_indexer_spark.sources.pages import pages_from_documents

from conftest import SF_SMALL

QUERIES = [("query", 10), ("spark data query", 25), ("customer merge window", 1000)]
LINEAGE_COLS = [
    "partition_key", "from_snapshot", "to_snapshot", "n_docs", "n_tokens",
    "status", "wall_ms",
]


def _pages(spark):
    # docids spread over 4 docid_ranges
    return pages_from_documents(spark, SF_SMALL).withColumn("doc_id", F.col("doc_id") * 64)


@pytest.fixture(scope="module")
def base_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("commit_base"))
    build_index(spark, _pages(spark), d, snapshot="s1")
    return d


@pytest.fixture
def idx(base_idx, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(base_idx, d)
    return d


def _lineage(spark, d, snap):
    rows = spark.read.parquet(cat.table_path(d, "lineage", snap)).select(*LINEAGE_COLS)
    return sorted(tuple(r) for r in rows.collect())


def _docs(spark, d, snap):
    return (
        cat.read_table(spark, d, "docs", snap)
        .select("docid", "url", "content", "dl").toPandas()
        .sort_values("docid").reset_index(drop=True)
    )


def _hits(spark, d, snap, query, k, mode="blockmax"):
    prof: dict = {}
    got = Searcher(spark, d, snapshot=snap).search(
        query, k=k, mode=mode, with_docs=False, profile=prof
    ).toPandas()
    return got, prof["path"]


def _empty_delta(spark):
    return spark.createDataFrame(
        [],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, op string, old_url string, doc_id long",
    )


def _delete(pages):
    return pages.withColumn("op", F.lit("DELETED")).withColumn("old_url", F.col("url"))


def _delete_all(spark):
    return _delete(_pages(spark))


def test_noop_delta_claims_nothing_and_resolves_to_parent(spark, idx):
    c = apply_delta(spark, idx, _empty_delta(spark), "s2")
    assert (c.parent_snapshot, c.chain_depth) == ("s1", 1)
    assert _lineage(spark, idx, "s2") == [("-", "s1", "s2", 0, 0, "done", 0)]
    assert _docs(spark, idx, "s2").equals(_docs(spark, idx, "s1"))
    s2 = Searcher(spark, idx, snapshot="s2")
    assert sorted(s2.local.docid.tolist()) == sorted(_docs(spark, idx, "s1")["docid"])
    for query, k in QUERIES:
        for mode in ("blockmax", "exhaustive"):
            got, path = _hits(spark, idx, "s2", query, k, mode)
            want, _ = _hits(spark, idx, "s1", query, k, mode)
            assert len(want) > 0 and path == ("local" if mode == "blockmax" else mode)
            assert got["docid"].tolist() == want["docid"].tolist(), (query, mode)
            assert got["score"].tolist() == want["score"].tolist(), (query, mode)


def test_delete_all_delta_claims_every_range(spark, idx):
    """A chained delta that deletes every doc must claim every range (a
    bare '-' row would let the parent's docs show through the chain)."""
    ranges = {r for r, *_ in _lineage(spark, idx, "s1")}
    c = apply_delta(spark, idx, _delete_all(spark), "s2")
    assert c.n_docs == 0 and c.parent_snapshot == "s1"
    assert {r for r, *_ in _lineage(spark, idx, "s2")} == ranges
    assert len(_docs(spark, idx, "s2")) == 0
    s2 = Searcher(spark, idx, snapshot="s2")
    assert s2.local.docid.size == 0
    for query, k in QUERIES:
        for mode in ("blockmax", "exhaustive"):
            assert len(_hits(spark, idx, "s2", query, k, mode)[0]) == 0


def test_materialized_delete_all_and_compact_of_emptied_index(spark, idx):
    """Deleting every doc in a materializing delta, and compacting the
    emptied chain, each commit a snapshot that claims no range: exactly the
    '-' lineage row, from the snapshot it was derived from."""
    apply_delta(spark, idx, _delete_all(spark), "s2", max_chain=0)
    assert _lineage(spark, idx, "s2") == [("-", "s1", "s2", 0, 0, "done", 0)]
    apply_delta(spark, idx, _empty_delta(spark), "s3")  # chain on the empty snapshot
    c = compact(spark, idx, "s4")
    assert (c.n_docs, c.parent_snapshot, c.chain_depth) == (0, None, 0)
    assert cat.current_snapshot(idx) == "s4"
    assert _lineage(spark, idx, "s4") == [("-", "s3", "s4", 0, 0, "done", 0)]
    for table in ("docs", "segments", "term_stats"):
        assert cat.read_table(spark, idx, table, "s4").count() == 0, table
    for query, k in QUERIES:
        for mode in ("blockmax", "exhaustive"):
            assert len(_hits(spark, idx, "s4", query, k, mode)[0]) == 0


def _bucket_files(d, snap):
    seg = cat.table_path(d, "segments", snap)
    return {
        b: [f for f in os.listdir(os.path.join(seg, b)) if f.endswith(".parquet")]
        for b in os.listdir(seg) if b.startswith("bucket=")
    }


def test_segments_write_one_file_per_bucket(spark, idx):
    """The segments write of a build and of a delta spreads the buckets
    over several tasks and never splits one: each bucket directory holds
    exactly one file."""
    pages = _pages(spark)
    modified = (
        pages.filter(F.col("doc_id") % 3 == 0)
        .withColumn("op", F.lit("MODIFIED"))
        .withColumn("old_url", F.lit(None).cast("string"))
        .withColumn("text", F.concat(F.col("text"), F.lit(" edited")))
        .withColumn("html", F.encode(F.col("text"), "UTF-8"))
    )
    apply_delta(spark, idx, modified, "s2")
    for snap in ("s1", "s2"):
        files = _bucket_files(idx, snap)
        assert len(files) > 1 and all(len(f) == 1 for f in files.values()), snap
        # part-<task partition>-...: written by more than one task
        assert len({f[0].split("-")[1] for f in files.values()}) > 1, snap


@pytest.mark.parametrize("writer", ["build", "delta"])
def test_failure_inside_commit_keeps_parent_current(
    spark, idx, base_idx, tmp_path, writer, monkeypatch
):
    """A failure after catalog.json (here: the term_stats write) leaves
    ``current`` on the parent snapshot; re-running the writer commits the
    same index a run without the failure commits."""

    def write(d):
        if writer == "build":
            return build_index(spark, _pages(spark), d, snapshot="s2")
        some = _pages(spark).filter(F.col("doc_id") % 7 == 0)
        return apply_delta(spark, d, _delete(some), "s2")

    def boom(*a, **kw):
        raise RuntimeError("injected commit failure")

    with monkeypatch.context() as m:
        m.setattr(bi, "term_stats_from_segments", boom)
        with pytest.raises(RuntimeError, match="injected commit failure"):
            write(idx)
    assert cat.read_catalog(idx, "s2").snapshot == "s2"  # catalog.json was written
    assert cat.current_snapshot(idx) == "s1"
    parent, _ = _hits(spark, base_idx, "s1", "spark data query", 25)
    assert _hits(spark, idx, None, "spark data query", 25)[0].equals(parent)

    clean = str(tmp_path / "clean")
    shutil.copytree(base_idx, clean)
    write(clean)
    assert write(idx).snapshot == cat.current_snapshot(idx) == "s2"
    for query, k in QUERIES:
        got, _ = _hits(spark, idx, None, query, k)
        assert got.equals(_hits(spark, clean, None, query, k)[0]), query
