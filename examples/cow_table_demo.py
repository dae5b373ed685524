#!/usr/bin/env python3
"""End-to-end tour of the bucket-partitioned copy-on-write table
(streaming/partitioned_upsert.py): MERGE -> tombstones -> change data
feed -> compaction -> zone-map summary -> pruned key-range scan -> time
travel -> retention -> merge-on-read. Every step prints what the
manifest machinery did, so the output doubles as documentation of the
table format's behavior on plain parquet + JSON manifests.

Deterministic, sf-independent (synthesizes its own tiny key space), and
fast (~30 s): run with `python examples/cow_table_demo.py`.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming import (
    partitioned_upsert as pu,
)


def show(title: str, df, limit: int = 6) -> None:
    print(f"\n== {title}")
    if df is None:
        print("   (empty state)")
        return
    for r in df.orderBy("key").limit(limit).collect():
        print("  ", r.asDict())


def main() -> None:
    spark = get_spark("cow_table_demo")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="cow_demo_")
    state = os.path.join(base, "state")
    try:
        # batch 0: initial load — 1,000 keys over 10 buckets (width 100)
        load = spark.range(1000).select(
            F.col("id").alias("key"), ((F.col("id") % 9) * 1.5).alias("amount")
        )
        pu.merge_batch_into_partitioned_state(spark, state, load, 0, range_width=100)
        m0 = pu._manifest_for_batch(spark, state, 0)
        print(f"v0 committed: {len(m0['buckets'])} buckets, width {m0['range_width']}")

        # batch 1: clustered CDC — updates in one range + tombstones
        updates = spark.range(5).select(
            (F.col("id") + 300).alias("key"),
            F.lit(10.0).alias("amount"),
            F.lit("upsert").alias("op"),
        )
        tombs = spark.range(3).select(
            (F.col("id") + 300).alias("key"),
            F.lit(0.0).alias("amount"),
            F.lit("delete").alias("op"),
        )
        pu.merge_batch_into_partitioned_state(
            spark, state, updates.unionByName(tombs), 1, range_width=100
        )
        m1 = pu._manifest_for_batch(spark, state, 1)
        changed = pu.changed_bucket_ids(m0, m1)
        print(f"v1 committed: buckets rewritten {changed} (of {len(m1['buckets'])})")

        show("change data feed v0->v1 (reads ONLY the changed buckets)",
             pu.partitioned_state_changes(spark, state, 0, 1))

        n = pu.compact_partitioned_state(spark, state, max_files=1)
        print(f"\ncompaction: {n} fragmented bucket(s) rewritten to one file each")

        print("\nzone-map summary (manifest only — zero data files read):")
        print("  ", pu.partitioned_state_summary(spark, state).first().asDict())

        m = pu._latest_manifest(spark, state)
        keep = pu.keyrange_bucket_ids(m, 295, 310)
        print(f"\nkey-range scan [295,310]: reads buckets {keep} of {len(m['buckets'])}")
        show("rows", pu.read_partitioned_state_keyrange(spark, state, 295, 310))

        print("\ntime travel to v0 rows:",
              pu.read_partitioned_state_version(spark, state, 0).count())

        deleted = pu.expire_partitioned_versions(spark, state, keep=2)
        print(f"\nretention (keep last 2 batches): {deleted} dirs+manifests vacuumed")
        print("   latest rows:", pu.read_latest_partitioned_state(spark, state).count())

        # merge-on-read: a SCATTERED batch (every range touched) appends a
        # delta instead of rewriting every bucket
        scattered = spark.range(100).select(
            (F.col("id") * 10).alias("key"), F.lit(0.25).alias("amount")
        )
        pu.append_delta_batch(spark, state, scattered, 9)
        md = pu._latest_manifest(spark, state)
        print(f"\nmerge-on-read append: deltas pending {md['deltas']}, "
              f"bucket pointers untouched")
        show("delta-era read (base + deltas folded in batch order)",
             pu.read_latest_partitioned_state(spark, state), 3)
        n = pu.compact_deltas_into_base(spark, state)
        print(f"delta compaction: folded into {n} buckets; "
              "manifest-pruned readers restored:")
        print("  ", pu.partitioned_state_summary(spark, state).first().asDict())
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
