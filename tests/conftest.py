from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from mapreduce_golang_spark.session import get_spark

    spark = get_spark(app_name="mapreduce-golang-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def launched_jobs(spark):
    """``with launched_jobs() as jobs:`` — after the block, ``jobs`` holds
    the ids of every Spark job the block launched (counted through a job
    group and the status tracker, once the listener bus has drained)."""
    sc = spark.sparkContext

    @contextmanager
    def counting():
        group = f"count-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return counting


@pytest.fixture(scope="session")
def query_check(spark, sf_dir):
    """``query_check(name)`` runs the registry sweep's check of one query
    (tests/sweep.py) once per session and returns its row count; every
    later call for the same query returns that count or raises the same
    failure, so each query is built once however many tests check it."""
    from tests.sweep import check_query

    outcomes: dict[str, int | Exception] = {}

    def run(name: str) -> int:
        if name not in outcomes:
            try:
                outcomes[name] = check_query(spark, sf_dir, name)
            except Exception as exc:  # noqa: BLE001 — replayed to every caller
                outcomes[name] = exc
        if isinstance(outcomes[name], Exception):
            raise outcomes[name]
        return outcomes[name]

    return run
