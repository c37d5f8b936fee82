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

    def run(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jsc.listenerBus().waitUntilEmpty()
        # the status store can trail the listener bus: read until it settles
        n, prev = count(group), -1
        for _ in range(10):
            if n == prev:
                break
            time.sleep(0.3)
            n, prev = count(group), n
        return n

    return run
