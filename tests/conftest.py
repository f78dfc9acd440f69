from __future__ import annotations

import os

import pytest

from udacity_datalake_spark_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="udacity-datalake-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _leak_reporter(request):
    """Diagnostic twin of the module gate (SPARK_GRAFT_LEAK_REPORT=1):
    prints the name of every TEST that leaves the SQL cache non-empty
    and clears it, so offenders are pinpointed in one run instead of
    bisecting a module.  Off by default — zero overhead."""
    yield
    if os.environ.get("SPARK_GRAFT_LEAK_REPORT", "0") != "1":
        return
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is None:
        return
    if not sess._jsparkSession.sharedState().cacheManager().isEmpty():
        print(f"\nLEAK: {request.node.nodeid}")
        sess.catalog.clearCache()


@pytest.fixture(autouse=True, scope="module")
def _no_persist_leaks():
    """Structural persist-hygiene gate (round-7 VERDICT #6): after each
    test module, the SQL cache must be EMPTY.  Operators that persist
    internally (banded dedup, LSH, invariant frames) document their
    cache as scoped-to-caller-clearCache — this fixture makes the
    contract enforceable: a test that consumes such an operator must
    clearCache()/unpersist() before its module ends, so a NEW operator
    that persists without a documented scope fails the suite instead of
    leaking session-lifetime cache entries for library callers.

    The check reads the SQL CacheManager (DataFrame.persist entries —
    the leak class round-5/6 ADVICE flagged) rather than
    getPersistentRDDs(), because localCheckpoint() RDD storage is
    released asynchronously by the ContextCleaner and would make an
    RDD-level assertion flaky."""
    yield
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is None:
        return
    leaked = not sess._jsparkSession.sharedState().cacheManager().isEmpty()
    # always clean, so one module's leak can't cascade into the next
    sess.catalog.clearCache()
    assert not leaked, (
        "test module ended with persisted DataFrames still cached — "
        "unpersist()/clearCache() in the test, or document the operator's "
        "cache scope and clear it at module end"
    )
