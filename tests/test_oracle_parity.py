"""Replicates the driver's CORRECTNESS gate locally: run every
``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()`` twin on
DuckDB over the same parquet, then compare row count, column names/types,
and order-insensitive values.
"""

import math
import os

import duckdb
import pandas as pd
import pytest

from conftest import SF_MED

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def compare(spark_df, duck_df) -> list[str]:
    problems = []
    a, b = _normalize(spark_df), _normalize(duck_df)
    if list(a.columns) != list(b.columns):
        return [f"column mismatch: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        problems.append(f"row count: spark={len(a)} oracle={len(b)}")
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = [
                (pd.isna(x) and pd.isna(y)) or (x == y) or math.isclose(x, y, rel_tol=0, abs_tol=0)
                for x, y in zip(av.astype(float), bv.astype(float))
            ]
            bad = [i for i, o in enumerate(ok) if not o]
        else:
            bad = list(av[av.astype(str) != bv.astype(str)].index)
        if bad:
            i = bad[0]
            problems.append(
                f"col {c}: {len(bad)} mismatches, first at row {i}: "
                f"spark={a[c].iloc[i]!r} oracle={b[c].iloc[i]!r}"
            )
    return problems


@pytest.fixture(scope="module")
def entry_mod():
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    importlib.reload(m)
    return m


@pytest.fixture(scope="module")
def duck():
    con = _duck(SF_MED)
    yield con
    con.close()


def test_every_query_has_callable(entry_mod):
    qs = entry_mod.queries()
    assert len(qs) > 0
    for name, fn in qs.items():
        assert callable(fn), name


def test_driver_registry_pinned(entry_mod):
    """The driver sees exactly 50 entries; every demoted or ordered name is
    registered and every oracle belongs to a driver entry, so removing an
    entry can neither leave a stale name behind nor change what the driver
    sees."""
    from gitlab_elasticsearch_indexer_spark.plans import entry_queries as eq

    qs = entry_mod.queries()
    assert len(qs) == 50
    assert set(eq.DEMOTED) <= set(eq.QUERIES)
    assert set(eq._ORDER) <= set(eq.QUERIES)
    assert set(entry_mod.oracle_sql()) <= set(qs)


def _ids():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    return sorted(m.oracle_sql().keys())


def _extra_ids():
    """Demoted twin entries — excluded from the driver registry to fit its
    harness cap, still parity-checked here."""
    import sys

    sys.path.insert(0, "/root/repo")
    from gitlab_elasticsearch_indexer_spark.plans import entry_queries as eq

    return sorted(eq.extra_oracle_sql().keys())


@pytest.mark.parametrize("name", _ids())
def test_parity(entry_mod, duck, spark, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    got = fn(spark, SF_MED).toPandas()
    want = duck.sql(sql).df()
    problems = compare(got, want)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _extra_ids())
def test_parity_extra(duck, spark, name):
    from gitlab_elasticsearch_indexer_spark.plans import entry_queries as eq

    fn = eq.extra_queries()[name]
    sql = eq.extra_oracle_sql()[name]
    got = fn(spark, SF_MED).toPandas()
    want = duck.sql(sql).df()
    problems = compare(got, want)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(entry_mod, spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "docid" in df.columns and "score" in df.columns


def test_rows_only_queries_run(entry_mod, spark):
    """Entries without an oracle still execute and return a DataFrame."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name in set(qs) - set(oracles):
        df = qs[name](spark, SF_MED)
        assert df.count() >= 0, name
