"""pin() mode equivalence: the durable parquet-table materialization must
be a pure execution-strategy switch — identical results to the default
localCheckpoint mode for every pin-using query family (branch-reuse
self-join, fixed-point iteration, component propagation)."""

from __future__ import annotations

import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import all_queries


@pytest.mark.parametrize(
    "name", ["basket_affinity", "pagerank_fixedpoint", "neardup_components"]
)
def test_pin_table_mode_matches_local(spark, sf_dir, name, monkeypatch):
    q = all_queries()[name]
    monkeypatch.setenv("SPARK_GRAFT_PIN", "local")
    local_rows = sorted(map(tuple, q(spark, sf_dir).collect()))
    monkeypatch.setenv("SPARK_GRAFT_PIN", "table")
    table_rows = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert local_rows == table_rows


def test_pin_unknown_mode_raises(spark, monkeypatch):
    """A typo'd SPARK_GRAFT_PIN must fail loudly — a silent localCheckpoint
    fallback would turn a dual-mode verification run into local-vs-local."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.pin import pin

    monkeypatch.setenv("SPARK_GRAFT_PIN", "TABLE")
    with pytest.raises(ValueError, match="SPARK_GRAFT_PIN"):
        pin(spark.range(3))


def test_pin_dir_override_places_scratch_there(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_PIN_DIR (the multi-node shared-storage hook) is where
    table-mode scratch actually lands."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.pin import pin

    monkeypatch.setenv("SPARK_GRAFT_PIN", "table")
    monkeypatch.setenv("SPARK_GRAFT_PIN_DIR", str(tmp_path))
    out = pin(spark.range(5), "probe")
    assert out.count() == 5
    assert any(p.name.startswith("probe_") for p in tmp_path.iterdir())
