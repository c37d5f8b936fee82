from __future__ import annotations

import time

import pytest

from hnsw_vector_db_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def _settled_in_group(spark, read):
    """``run(group, action)``: run ``action`` under job group ``group``,
    then return ``read(group)`` once the status store has settled."""
    sc = spark.sparkContext

    def run(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        # the status store can trail the listener bus: read until it settles
        n, prev = read(group), None
        for _ in range(10):
            if n == prev:
                break
            time.sleep(0.3)
            n, prev = read(group), n
        return n

    return run


@pytest.fixture
def jobs_in_group(spark):
    """``jobs_in_group(group, action)`` runs ``action`` under job group
    ``group`` and returns how many jobs the status store recorded for
    that group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def count(group):
        jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            jsc.statusStore().jobsList(None)
        )
        return sum(1 for j in jobs if j.jobGroup().isDefined() and j.jobGroup().get() == group)

    return _settled_in_group(spark, count)


@pytest.fixture
def stage_tasks_in_group(spark):
    """``stage_tasks_in_group(group, action)`` runs ``action`` under job
    group ``group`` and returns ``{stage id: completed tasks}`` for every
    stage of the group's jobs that ran tasks (a skipped stage ran none)."""
    tracker = spark.sparkContext.statusTracker()

    def tasks(group):
        out = {}
        for job in tracker.getJobIdsForGroup(group):
            for sid in tracker.getJobInfo(job).stageIds:
                info = tracker.getStageInfo(sid)
                if info is not None and info.numCompletedTasks:
                    out[sid] = info.numCompletedTasks
        return out

    return _settled_in_group(spark, tasks)
