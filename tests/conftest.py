from __future__ import annotations

import os
import sys
import uuid

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_ROOT)

# Python workers must be able to import test modules (classes defined in
# tests are pickled by reference, e.g. UDAF protocol classes).
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO_ROOT, _TESTS_DIR, os.environ.get("PYTHONPATH")) if p
)

from etl_lealone_spark.session import build_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_spark(app_name="etl_lealone_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from etl_lealone_spark.tables import load_tables

    return load_tables(spark, sf_dir)


@pytest.fixture()
def jobs_run_by(spark):
    """``jobs_run_by(fn)``: the number of Spark jobs ``fn()`` starts — the
    tool of the job-count guards."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobcount-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count guard")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
