"""JDBC boundary round-trip (S6/S11): write the reps dim to an embedded
Derby database via spark.write.format('jdbc'), read it back via
spark.read.format('jdbc'), and require equality with the XML-path dim —
the reference's SQLite→MySQL hop mapped onto Spark's JDBC connector.
Derby's jars ship inside pyspark, so the test needs no extra driver. The
reps XML is the seeded one of `perfbench/xmlgen.py`."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from perfbench import xmlgen
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.plans import pharma_pipeline as pp
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.jdbc import (
    DERBY_DRIVER,
    read_jdbc,
    write_jdbc,
)


def test_jdbc_roundtrip_reps_equals_xml_dim(spark, tmp_path):
    truth = xmlgen.generate(tmp_path / "xml", seed=11, n_txns=100)
    reps = pp.load_reps(spark, truth.paths["reps"])
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"

    write_jdbc(reps, url, "reps", DERBY_DRIVER)
    back = read_jdbc(spark, url, "reps", DERBY_DRIVER)

    assert sorted(back.columns) == sorted(reps.columns)
    got = sorted(tuple(r) for r in back.select(*reps.columns).collect())
    want = sorted(tuple(r) for r in reps.collect())
    assert got == want
    assert len(got) == len(truth.reps)


def test_jdbc_partitioned_read(spark, tmp_path):
    """Fact-shaped JDBC scan: partition bounds fan the read out into
    parallel range queries (one partition per id range)."""
    df = spark.range(0, 1000).select(
        F.col("id").cast("int").alias("id"), (F.col("id") * 2).cast("int").alias("v")
    )
    url = f"jdbc:derby:{tmp_path}/derbydb2;create=true"
    write_jdbc(df, url, "facts", DERBY_DRIVER)

    back = read_jdbc(
        spark, url, "facts", DERBY_DRIVER,
        partition_column="id", lower_bound=0, upper_bound=1000, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == 999 * 1000  # sum(2i, i<1000)

    # Catalyst pushes the filter into the remote query (PushedFilters on the
    # JDBC relation), so the database — not Spark — prunes rows
    filtered = back.filter(F.col("id") >= 900)
    plan = filtered._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters:" in plan and "id" in plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert filtered.count() == 100
