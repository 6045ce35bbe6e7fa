from __future__ import annotations

import pytest

from ct_mapreduce_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ct_mapreduce_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def certs(spark):
    from ct_mapreduce_spark.sources.certificates import synthetic_certificates

    df = synthetic_certificates(spark, n=2000, seed=42)
    df.cache().count()
    return df


@pytest.fixture
def action_jobs(spark):
    """`action_jobs(group, fn)` runs `fn()` under Spark job group `group`
    and returns (its result, the ids of the group's jobs that the driver
    submits outside adaptive execution's query stages).

    Under adaptive execution the stages of every SQL job, the result
    stage included, are built in adaptive execution's own threads (their
    call site reads `withThreadLocalCaptured`), and whether one of them
    runs or is cancelled depends on timing (a curate drop's total read 70
    or 71 on one tree). The jobs kept are submitted straight from the
    driver's calls, and their number does not depend on timing: file
    listing, schema inference from footers, RDD actions (a checkpoint, a
    Python UDF's evaluation) and SQL actions whose plan has no exchange
    (adaptive execution leaves those plans alone)."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()

        def result_stage(job_id):
            return tracker.getStageInfo(max(tracker.getJobInfo(job_id).stageIds))

        return out, [
            j
            for j in tracker.getJobIdsForGroup(group)
            if "withThreadLocalCaptured" not in result_stage(j).name
        ]

    return run
