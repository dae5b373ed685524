#!/usr/bin/env python3
"""Incremental-warehouse demo: the daily-batch lifecycle a production
deployment runs on top of the engine (SURVEY.md §Warehouse maintenance):

  1. CDC ingest: stream order batches, fold each into the bucketed
     copy-on-write state via foreachBatch MERGE
     (streaming/partitioned_upsert.py; at the default RANGE_WIDTH the
     sf0.001 custkeys 0-149 all fall into one bucket)
  2. time travel: read the state as of an earlier batch
  3. maintenance: compact the append debris into right-sized files
  4. analytics over the merged state: MERGE upsert + SCD2 + OHLC views

Usage:
  python examples/warehouse_demo.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import all_queries
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.maintenance import (
    compact_parquet,
)
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
    read_latest_partitioned_state,
    read_partitioned_state_version,
    run_partitioned_incremental_merge,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("warehouse-demo")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="warehouse_demo_")

    # 1. CDC ingest: three "daily" batches of orders
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"), F.col("o_totalprice").alias("amount")
    )
    src = os.path.join(work, "batches")
    os.makedirs(src)
    for day in range(3):
        orders.filter(F.col("key") % 3 == day).toPandas().to_parquet(
            os.path.join(src, f"day{day}.parquet"), index=False
        )
    state = os.path.join(work, "state")
    run_partitioned_incremental_merge(spark, src, state, os.path.join(work, "ckpt"))
    latest = read_latest_partitioned_state(spark, state)
    print(f"state after 3 batches: {latest.count()} keys")

    # 2. time travel
    v0 = read_partitioned_state_version(spark, state, 0)
    print(f"VERSION AS OF batch 0: {v0.count()} keys")

    # 3. compaction of fragmented appends
    frag = os.path.join(work, "frag")
    orders.repartition(16).write.parquet(frag)
    before, after = compact_parquet(spark, frag, target_file_bytes=1 << 30)
    print(f"compacted {before} files -> {after}")

    # 4. analytics views over the corpus
    q = all_queries()
    print("merge_upsert actions:")
    q["merge_upsert"](spark, sf_dir).groupBy("merge_action").count().show()
    print("hourly OHLC bars (head):")
    q["ohlc_bars"](spark, sf_dir).orderBy("bar_hour").show(5)


if __name__ == "__main__":
    main()
