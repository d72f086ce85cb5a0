from __future__ import annotations

import os
import sys

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# The package and the ``tests.*`` helpers import from the repo root.
sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir))

_first_failure: list[str] = []


def _spark_gateway_dead() -> bool:
    """True when this process started a SparkContext whose JVM is gone
    (OOM-killed, crashed): every later Spark call fails with
    ConnectionRefused, so only the first failure carries the cause."""
    if "pyspark" not in sys.modules:
        return False
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return False
    try:
        sc._jvm.java.lang.System.nanoTime()
    except Exception:
        return True
    return False


@pytest.hookimpl(trylast=True)
def pytest_runtest_logreport(report):
    """Stop the run once, loudly, when the test JVM has died, instead of
    reporting every later Spark test as a ConnectionRefused failure."""
    if not report.failed:
        return
    _first_failure.append(report.nodeid)
    if _spark_gateway_dead():
        pytest.exit(
            f"Spark JVM gateway died during {report.nodeid}; first failed "
            f"test of the run: {_first_failure[0]}. Check the host's memory "
            "(dmesg) and SPARK_GRAFT_DRIVER_MEM.",
            returncode=pytest.ExitCode.TESTS_FAILED,
        )


@pytest.fixture(scope="session")
def spark():
    from movie_recommendation_etl_spark.session import get_spark

    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from tests.oracle_harness import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()
