import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from gitlab_elasticsearch_indexer_spark.session import get_spark

    spark = get_spark(app_name="ges-tests")
    yield spark
    spark.stop()


# Indexes several test modules read and no test writes (a test that edits a
# catalog works on a copy).  Each is built once per session.
@pytest.fixture(scope="session")
def simple_idx(spark, tmp_path_factory):
    """sf0.001 pages plus the special rows, simple analyzer."""
    from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
    from gitlab_elasticsearch_indexer_spark.sources.pages import pages_with_specials

    d = str(tmp_path_factory.mktemp("simple_idx"))
    build_index(spark, pages_with_specials(spark, SF_SMALL), d, analyzer="simple", snapshot="s1")
    return d


@pytest.fixture(scope="session")
def default_idx(spark, tmp_path_factory):
    """sf0.001 pages, default analyzer."""
    from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
    from gitlab_elasticsearch_indexer_spark.sources.pages import pages_from_documents

    d = str(tmp_path_factory.mktemp("default_idx"))
    build_index(spark, pages_from_documents(spark, SF_SMALL), d, analyzer="default", snapshot="s1")
    return d


@pytest.fixture(scope="session")
def offsets_idx(spark, tmp_path_factory):
    """sf0.001 pages with the offsets payload (which implies positions)."""
    from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
    from gitlab_elasticsearch_indexer_spark.sources.pages import pages_from_documents

    d = str(tmp_path_factory.mktemp("offsets_idx"))
    build_index(spark, pages_from_documents(spark, SF_SMALL), d, snapshot="s1", with_offsets=True)
    return d
