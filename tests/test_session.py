"""run_facets: results in facet order, facet threads in the caller's job
group, and a failing facet that cancels its siblings' jobs."""

from __future__ import annotations

import time

import pytest

from data_frame_spark.session import run_facets


def _wait_for(cond, timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while not cond() and time.time() < deadline:
        time.sleep(0.05)
    return cond()


def test_run_facets_keeps_order_and_caller_job_group(spark):
    sc = spark.sparkContext

    def props(n):
        return lambda: (n, sc.getLocalProperty("spark.job.description"),
                        sc.getLocalProperty("spark.jobGroup.id"))

    sc.setJobGroup("grp", "grp")
    try:
        out = run_facets(spark, {"c": props(3), "a": props(1)})
    finally:
        sc.setJobGroup(None, None)
    assert out == [(3, "grp/c", "grp"), (1, "grp/a", "grp")]


def test_run_facets_failure_cancels_sibling_jobs(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    raised_at = []

    def failing():
        # fail ~1 s after the sibling's job started
        assert _wait_for(lambda: tracker.getJobIdsForGroup("facets-fail"), 60)
        time.sleep(1.0)
        raised_at.append(time.time())
        raise ValueError("facet failed")

    sc.setJobGroup("facets-fail", "facets-fail")
    try:
        with pytest.raises(ValueError, match="facet failed"):
            run_facets(spark, {
                # ~10^12 rows: minutes of work on any host
                "long": lambda: spark.range(10**12).selectExpr("sum(id % 7)").collect(),
                "failing": failing,
            })
    finally:
        sc.setJobGroup(None, None)
    # the original exception reaches the caller without waiting for
    # the long job, whose job ran under the caller's group ...
    assert time.time() - raised_at[0] < 5
    (job,) = tracker.getJobIdsForGroup("facets-fail")
    # ... and was cancelled
    assert _wait_for(lambda: tracker.getJobInfo(job).status != "RUNNING", 30)
    assert tracker.getJobInfo(job).status == "FAILED"
    assert _wait_for(lambda: not tracker.getActiveStageIds(), 30)
