"""``util.concurrently``: driver threads keep the caller's local properties."""

from __future__ import annotations

import uuid

from real_estate_bigdata_spark.util import concurrently


def test_jobs_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"concurrently-{uuid.uuid4().hex}"
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "util.concurrently job-group probe")
    try:
        counts = concurrently(
            lambda: sc.parallelize(range(8), 2).count(),
            lambda: sc.parallelize(range(5), 2).count(),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert counts == [8, 5]
    # one RDD count is one job: both threads' jobs are in the group ...
    assert len(tracker.getJobIdsForGroup(group)) == 2
    # ... and none ran without it
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before
