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
    submits outside adaptive execution's query stages, the ids of the
    group's root SQL executions).

    Under adaptive execution the stages of every SQL job, the result
    stage included, are built in adaptive execution's own threads (their
    call site reads `withThreadLocalCaptured`), and whether one of them
    runs or is cancelled depends on timing (a curate drop's total read 70
    or 71 on one tree). The jobs kept are submitted straight from the
    driver's calls, and their number does not depend on timing: file
    listing, schema inference from footers, RDD actions (a checkpoint, a
    Python UDF's evaluation) and SQL actions whose plan has no exchange
    (adaptive execution leaves those plans alone).

    The SQL actions the job filter cannot see (a count, a collect, a
    write with an exchange) are counted by execution instead: every job
    of a SQL action belongs to one root execution in the session's SQL
    status store, whatever thread submitted it, so a doubled SQL action
    adds one root execution."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # both status stores below are fed by the listener bus, which
        # delivers asynchronously: let it drain first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        group_jobs = set(tracker.getJobIdsForGroup(group))

        def result_stage(job_id):
            return tracker.getStageInfo(max(tracker.getJobInfo(job_id).stageIds))

        roots = set()
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList().iterator()
        while execs.hasNext():
            e = execs.next()
            jobs = e.jobs().keys().iterator()
            while jobs.hasNext():
                if jobs.next() in group_jobs:
                    roots.add(e.rootExecutionId())
                    break
        kept = [
            j
            for j in sorted(group_jobs)
            if "withThreadLocalCaptured" not in result_stage(j).name
        ]
        return out, kept, sorted(roots)

    return run
