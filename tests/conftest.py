from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set session confs for the block, then restore what was there."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def newest_job_id(sc) -> int:
    """The highest job id in the status store, -1 before the first job.
    Drain the listener bus first to see every job submitted so far."""
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def jobs_after(sc, job_id: int) -> list:
    """The status store's jobs (`JobData`) with an id above `job_id`,
    newest first."""
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= job_id:
            break
        out.append(job)
    return out


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), read from a job group.

    Fails if the status store recorded more jobs while fn ran than the
    group holds: a job fn starts on a thread that dropped the caller's job
    group would otherwise go uncounted and lower a pinned job budget."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    last_id = newest_job_id(sc)
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    n_group = len(sc.statusTracker().getJobIdsForGroup(group))
    n_ran = len(jobs_after(sc, last_id))
    assert n_ran == n_group, f"{n_ran - n_group} of the {n_ran} jobs fn ran left its job group"
    return out, n_group
