"""Shared pytest fixtures: one session-scoped SparkSession, fixture data."""

from __future__ import annotations

import pytest

from gcp_food_delivery_data_pipeline_spark.session import get_spark
from tests.fixtures import write_food_csv

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MEDIUM = "/root/testdata/sf0.01"


def _dead_jvm_exit_code() -> int | None:
    """Exit code of the py4j gateway JVM if it has died, else None
    (also None before any session exists)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.poll()


@pytest.hookimpl(trylast=True)
def pytest_runtest_logreport(report):
    """Every test shares one JVM: once it is gone, each later test
    would fail with its own connection error. Stop the session at the
    first failure that finds the JVM dead, with one error naming it."""
    if not report.failed:
        return
    code = _dead_jvm_exit_code()
    if code is not None:
        pytest.exit(
            f"JVM died (OOM?) with exit code {code} during {report.nodeid}; "
            "a negative code is the signal that killed it (-9: SIGKILL, "
            "usually the kernel OOM killer). Set SPARK_GRAFT_DRIVER_MEM "
            "to a smaller heap.",
            returncode=3,
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/engine-tests-warehouse"},
    )
    yield s
    if _dead_jvm_exit_code() is None:
        s.stop()


@pytest.fixture(scope="session")
def spark_global(spark):
    """Session-scoped alias for hypothesis @given tests (hypothesis
    forbids function-scoped fixtures, session scope is fine)."""
    return spark


@pytest.fixture(scope="session")
def food_csv(tmp_path_factory) -> str:
    """Synthetic food_daily-shaped CSV per FIXTURES.md §1 (NOT copied
    from the reference's data file)."""
    path = tmp_path_factory.mktemp("food") / "food_daily_fixture.csv"
    write_food_csv(str(path))
    return str(path)
