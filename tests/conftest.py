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


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), read from a job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
