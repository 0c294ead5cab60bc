import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adampro_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
GROUNDTRUTH = "/root/reference/src/test/resources/groundtruth"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "holds_result_cache: the test keeps ResultCache entries alive on "
        "purpose (the one long-lived cache), so the clean-session check "
        "skips it",
    )


def _cache_entries(s) -> int:
    return s._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.fixture(autouse=True)
def _session_left_clean(request):
    """Fail any test — passed or failed — that leaves more cached plans in
    the session than it found: every operator releases the caches it
    creates before it returns, and tests release what they persist."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    before = _cache_entries(s) if s is not None else 0
    yield
    s = SparkSession.getActiveSession()
    if s is None or request.node.get_closest_marker("holds_result_cache"):
        return
    after = _cache_entries(s)
    if after > before:
        pytest.fail(
            f"{request.node.nodeid} left {after - before} cached plan(s) in "
            f"the session ({before} before, {after} after)",
            pytrace=False,
        )


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("adampro-tests", master="local[8]")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from adampro_spark.session import load_tables

    return load_tables(spark, sf_dir)
