"""Parquet schema evolution on an append-only table."""

from __future__ import annotations


def test_schema_evolution_mergeschema_backfills_nulls(spark, tmp_path):
    """Schema evolution on an append-only table: an added column reads as
    NULL for old files under mergeSchema, and old readers (explicit
    narrow schema) still work against new files — both directions of the
    parquet evolution contract the ingest paths rely on."""
    from pyspark.sql import types as T

    v1 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("a", T.StringType())]
    )
    v2 = T.StructType(
        v1.fields + [T.StructField("b_new", T.DoubleType())]
    )
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x"), (2, "y")], v1).write.parquet(p)
    spark.createDataFrame([(3, "z", 1.5)], v2).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "a", "b_new"}
    rows = {r["id"]: r["b_new"] for r in merged.collect()}
    assert rows[1] is None and rows[2] is None and rows[3] == 1.5

    narrow = spark.read.schema(v1).parquet(p)  # old reader over new files
    assert narrow.count() == 3
    assert set(narrow.columns) == {"id", "a"}
