from __future__ import annotations

import itertools

import pytest

from ai_pdf_ocr_spark.engine.session import build_session

_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="pytest", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), jobs)``: the Spark jobs ``fn`` ran,
    counted through a job group and the status tracker (jobs that AQE
    starts from other threads inherit the group)."""
    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{next(_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
