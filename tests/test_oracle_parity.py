"""Driver-mimic correctness gate: every queries() entry vs its DuckDB oracle
at sf0.001 (fast). The driver runs the same comparison at sf0.01."""

from __future__ import annotations

import pytest

from .oracle_harness import CompareResult, run_all


def _names():
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries().keys())


def _check(res) -> None:
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import (
        EMPTY_AT_TEST_SCALE,
    )

    assert res.ok, f"{res.name}: {res.detail}"
    assert (res.spark_rows, res.oracle_rows) != (0, 0) or res.name in EMPTY_AT_TEST_SCALE, (
        f"{res.name}: Spark and oracle are both empty, so parity checks nothing; "
        "fix the query's inputs or declare it in registry.EMPTY_AT_TEST_SCALE"
    )


@pytest.mark.parametrize("name", _names())
def test_oracle_parity(spark, sf_dir, name):
    _check(run_all(spark, sf_dir, only=[name])[0])


def test_empty_results_fail_unless_declared():
    import __spark_entry__ as entrymod

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import (
        EMPTY_AT_TEST_SCALE,
    )

    assert set(EMPTY_AT_TEST_SCALE) <= set(entrymod.queries())
    with pytest.raises(AssertionError, match="both empty"):
        _check(CompareResult("cow_keyrange_lookup", True, "", 0, 0))
    _check(CompareResult("tpch_q7", True, "", 0, 0))
    _check(CompareResult("cow_keyrange_lookup", True, "", 31, 31))


def test_every_query_has_oracle_or_is_declared():
    import __spark_entry__ as entrymod

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark import registry

    no_oracle = getattr(registry, "NO_ORACLE", set())
    missing = set(entrymod.queries()) - set(entrymod.oracle_sql()) - set(no_oracle)
    assert not missing, f"queries without oracle nor NO_ORACLE declaration: {missing}"


# Pin the registry size: operator-module imports are unguarded, but a query
# silently dropped from a module's QUERIES dict would still shrink the
# surface without failing — keep this in sync when adding queries.
EXPECTED_QUERY_COUNT = 220  # r13: +mor_time_travel, +dq_constraint_report


def test_registry_pins_query_count():
    import __spark_entry__ as entrymod

    assert len(entrymod.queries()) == EXPECTED_QUERY_COUNT


def test_driver_sweep_priority_order():
    """The external correctness sweep covers the first 50 registry entries in
    insertion order. Every PRIORITY query (no driver row yet, or plan changed
    this round) must sit inside that window."""
    import __spark_entry__ as entrymod

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import PRIORITY

    assert len(PRIORITY) <= 50, "PRIORITY itself overflows the sweep window"
    head = set(list(entrymod.queries().keys())[:50])
    missing = set(PRIORITY) - head
    assert not missing, f"priority queries outside the 50-entry sweep window: {missing}"


def test_no_query_left_permanently_unswept():
    """Rotation invariant: every registered query either already has a
    driver correctness row (any CORRECTNESS_r*.json) or sits in the
    first-50 window the next sweep will cover. If this fails, a query was
    added without rotating PRIORITY and would never get driver-verified."""
    import glob
    import json
    import os

    import __spark_entry__ as entrymod

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    swept: set = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            rows = json.load(f)
        # a row counts only if it is GREEN: ran without error AND matched
        # the oracle (a ran-but-mismatched row must force the query back
        # into a future window, not satisfy the invariant). hash_match is
        # None for rows-only checks (no oracle) — rows_match carries those.
        swept |= {
            k
            for k, v in rows.items()
            if v.get("err") is None
            and v.get("rows_match") is True
            and v.get("schema_match") in (True, None)
            and v.get("hash_match") in (True, None)
        }
    names = list(entrymod.queries().keys())
    uncovered = [n for n in names if n not in swept and n not in names[:50]]
    assert not uncovered, f"queries with no driver row and outside the sweep window: {uncovered}"
