"""Spark jobs that run while a plan is built, pinned per query.

Some builders run jobs before the caller's action: pins, training passes,
derived parameters and fixed-point loops (the registry's eager-execution
note). Each such job is a round trip that every evaluation pays. These
budgets are the exact counts on the tier-1 corpus with adaptive execution
on, so a new hidden round trip in one of these builders fails here; a
count that falls lowers its budget.

The near-dup chain (`neardup_components` and the three queries built on
it) solves a one-partition candidate graph in one driver pass: 4 jobs for
the LSH edge pin and 1 collect. Before that it ran 18 (a separate edge
count, an init checkpoint, 7 jobs per round and a changed-label count).
`ann_recall_eval` ran 33 jobs when it trained the IVF-PQ probe twice, and
`simhash_near_dups` ran 6 when it counted the documents in a job of its
own.
"""

from __future__ import annotations

import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import all_queries
from tests.conftest import count_jobs, session_conf

BUILD_JOB_BUDGET = {
    "neardup_components": 5,
    "dedup_survivors": 5,
    "training_corpus": 5,
    "quality_filter_funnel": 5,
    "ann_recall_eval": 29,
    "simhash_near_dups": 3,
}


@pytest.mark.parametrize("name", sorted(BUILD_JOB_BUDGET))
def test_build_jobs_within_budget(spark, sf_dir, monkeypatch, name):
    monkeypatch.setenv("SPARK_GRAFT_PIN", "local")
    # adaptive execution submits each query stage as its own job
    with session_conf(spark, {"spark.sql.adaptive.enabled": "true"}):
        _, n_jobs = count_jobs(spark, lambda: all_queries()[name](spark, sf_dir))
    assert n_jobs <= BUILD_JOB_BUDGET[name], f"{name}: {n_jobs} build jobs"
