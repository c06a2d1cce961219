from __future__ import annotations

import uuid

import pytest

from co_deduplicate_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="co_dedup_tests", cores=8, driver_memory="16g")
    yield s
    s.stop()


@pytest.fixture
def jobs_run_by(spark):
    """Call ``fn`` under a fresh Spark job group; return its result and the
    ids of the Spark jobs it started (``statusTracker``)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-run-by-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    return run


SF_DIRS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
}
