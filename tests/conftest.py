from __future__ import annotations

import os
import time

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    from cubert_spark import get_session

    scratch = tmp_path_factory.mktemp("spark_scratch")
    s = get_session(
        "cubert-tests",
        extra_conf={
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={scratch / 'derby'}",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture()
def jobs_in(spark):
    """``jobs_in(group, fn)`` -> ``fn()`` and the number of Spark jobs
    it fired. The status tracker is fed asynchronously by the listener
    bus, in order, so once a later sentinel job is visible every job
    ``fn`` fired is visible too."""

    def run(group: str, fn):
        out = _in_group(spark, group, fn)
        sentinel = f"{group}-sentinel"
        _in_group(spark, sentinel, lambda: spark.range(1).count())
        tracker = spark.sparkContext.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(group))

    return run
