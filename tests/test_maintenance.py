"""Small-file compaction tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.maintenance import (
    compact_parquet,
    data_files,
)


def _money_sum(df, col):
    return df.agg(F.sum(F.col(col).cast("decimal(18,2)")).alias("s")).collect()[0]["s"]


def test_compaction_reduces_files_and_preserves_rows(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "frag")
    orders.repartition(40).write.parquet(p)  # simulate streaming-append debris
    assert len(data_files(spark, p)) == 40
    n_before, sum_before = orders.count(), _money_sum(orders, "o_totalprice")

    total = sum(b for _, b in data_files(spark, p))
    before, after = compact_parquet(spark, p, target_file_bytes=total // 2 + 1)
    assert before == 40 and after == 2

    back = spark.read.parquet(p)
    assert back.count() == n_before
    assert _money_sum(back, "o_totalprice") == sum_before


def test_compact_recovers_from_mid_swap_crash(spark, sf_dir, tmp_path):
    """A crash between the two swap renames leaves the data only in
    '._compact_old' with dir_path missing; the next compact call must
    restore it instead of treating the missing dir as a no-op (which
    would strand the data)."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "crashy")
    orders.repartition(8).write.parquet(p)
    n, s = orders.count(), _money_sum(orders, "o_totalprice")

    os.rename(p, p + "._compact_old")  # simulate dying after rename #1
    before, after = compact_parquet(spark, p, target_file_bytes=1 << 40)
    assert before == 8 and after == 1
    assert not os.path.exists(p + "._compact_old")
    back = spark.read.parquet(p)
    assert back.count() == n and _money_sum(back, "o_totalprice") == s


def test_compact_empty_dir_is_noop(spark, tmp_path):
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.maintenance import (
        compact_parquet,
    )

    empty = tmp_path / "empty"
    empty.mkdir()
    assert compact_parquet(spark, str(empty)) == (0, 0)


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
