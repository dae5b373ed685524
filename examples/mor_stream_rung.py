#!/usr/bin/env python3
"""Streamed merge-on-read scale rung (r8, VERDICT ask #5).

The oracle fixture (stream_mor_ingest) publishes each CDC batch as ONE
file via coalesce(1) — right for hash determinism at sf0.01, useless as
scale evidence. This probe drives run_partitioned_mor_ingest the way a
deployment would: the orders table split into SLICES written as plain
MULTI-FILE parquet (no coalesce), mtime-pinned so the file source's
oldest-first order is deterministic, consumed MAX_FILES_PER_TRIGGER
files per micro-batch. The CDC stream is upsert-only, so the folded
result is batch-grouping-invariant and checked EXACTLY against the
one-shot batch aggregate (tombstone sequencing semantics are pinned at
fixture scale where batch boundaries are controlled).

Measured per rung: per-batch delta-append latency, compaction cadence
(one amortized fold after the drain), and write amplification —
bytes(deltas written) / bytes(input), plus bytes(base after compaction).

Usage: python examples/mor_stream_rung.py SF_DIR [N_SLICES] [FILES_PER_TRIGGER]
Prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
    read_latest_partitioned_state,
    run_partitioned_mor_ingest,
)

MTIME_EPOCH_S = 1_000_000_000


def _tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def main() -> None:
    sf_dir = sys.argv[1]
    n_slices = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    files_per_trigger = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    # MODE 'seq' (r9, VERDICT r8 ask #2): mixed upsert+DELETE CDC under
    # the sequenced contract — every event carries the log's total order
    # (seq = 2*o_orderkey for upserts; one tombstone per custkey%10==0
    # at 2*max_pre1996_orderkey+1, interleaving mid-stream), the log is
    # written as seq-CONSECUTIVE files via repartitionByRange so the
    # oldest-first file source replays it in order, and micro-batch
    # boundaries fall wherever the trigger puts them. Default mode stays
    # the r8 upsert-only probe.
    mode = sys.argv[4] if len(sys.argv) > 4 else "upsert"
    spark = get_spark("mor-stream-rung")
    spark.sparkContext.setLogLevel("ERROR")

    work = f"/tmp/mor_rung_{os.path.basename(os.path.normpath(sf_dir))}_{int(time.time())}"
    src = os.path.join(work, "src")
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("amount"),
        F.lit("upsert").alias("op"),
        F.pmod(F.xxhash64("o_orderkey"), F.lit(n_slices)).alias("slice"),
    )
    # range width derived like the fixture: bucket count stays ~fixed
    max_key = orders.agg(F.max("key")).first()[0]
    width = max(100, math.ceil((max_key + 1) / 16))

    t0 = time.monotonic()
    if mode == "seq":
        base = load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("key"),
            F.col("o_totalprice").alias("amount"),
            "o_orderdate",
            F.col("o_orderkey").alias("okey"),
        )
        cut = F.lit("1996-01-01")
        ups = base.select(
            "key", "amount", F.lit("upsert").alias("op"),
            (F.col("okey") * 2).cast("long").alias("seq"),
        )
        dels = (
            base.filter((F.col("key") % 10 == 0) & (F.col("o_orderdate") < cut))
            .groupBy("key")
            .agg(F.max("okey").alias("t"))
            .select(
                "key", F.lit(0.0).alias("amount"),
                F.lit("delete").alias("op"),
                (F.col("t") * 2 + 1).cast("long").alias("seq"),
            )
        )
        events = ups.unionByName(dels)
        # ONE range-partitioned write: ascending partition ids carry
        # ascending seq ranges, so renaming parts in name order with
        # increasing mtimes reconstructs the log's delivery order —
        # no per-slice write loop, fully scalable
        n_files = n_slices * max(1, files_per_trigger // 2)
        sdir = os.path.join(work, "staged")
        events.repartitionByRange(n_files, "seq").write.mode(
            "overwrite"
        ).parquet(sdir)
        for j, f in enumerate(
            sorted(p for p in os.listdir(sdir) if p.endswith(".parquet"))
        ):
            dst = os.path.join(src, f"f{j:04d}.parquet")
            os.rename(os.path.join(sdir, f), dst)
            t = MTIME_EPOCH_S + 60 * j
            os.utime(dst, (t, t))
    else:
        # each slice: one plain multi-file parquet write (NO coalesce),
        # then its part files pinned to the slice's mtime tick so
        # delivery order is deterministic
        for i in range(n_slices):
            sdir = os.path.join(work, f"slice_{i:03d}")
            orders.filter(F.col("slice") == i).drop("slice").write.mode(
                "overwrite"
            ).parquet(sdir)
            t = MTIME_EPOCH_S + 60 * i
            for f in sorted(os.listdir(sdir)):
                if f.endswith(".parquet"):
                    dst = os.path.join(src, f"s{i:03d}_{f}")
                    os.rename(os.path.join(sdir, f), dst)
                    os.utime(dst, (t, t))
    stage_s = time.monotonic() - t0
    n_src_files = len(os.listdir(src))
    input_bytes = _tree_bytes(src)

    report = run_partitioned_mor_ingest(
        spark, src, state, ckpt,
        range_width=width,
        max_files_per_trigger=files_per_trigger,
        with_seq=(mode == "seq"),
    )

    delta_bytes = _tree_bytes(os.path.join(state, "deltas"))
    base_bytes = _tree_bytes(os.path.join(state, "buckets"))

    # exactness: the streamed fold must equal the one-shot reference
    got = read_latest_partitioned_state(spark, state)
    if mode == "seq":
        # seq-ordered reference: survivors are a key's orders with
        # orderkey > its tombstone threshold (either era), or all of
        # them when the key carries no tombstone
        base = load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("key"),
            F.col("o_totalprice").alias("amount"),
            "o_orderdate",
            F.col("o_orderkey").alias("okey"),
        )
        thresholds = (
            base.filter(
                (F.col("key") % 10 == 0)
                & (F.col("o_orderdate") < F.lit("1996-01-01"))
            )
            .groupBy("key")
            .agg(F.max("okey").alias("t"))
        )
        survivors = base.join(F.broadcast(thresholds), "key", "left").filter(
            F.col("t").isNull() | (F.col("okey") > F.col("t"))
        )
        want = survivors.groupBy("key").agg(
            F.sum(F.col("amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    else:
        want = orders.groupBy("key").agg(
            F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    diff = (
        got.alias("g")
        .join(want.alias("w"), "key", "full_outer")
        .filter(
            F.col("g.total").isNull()
            | F.col("w.total").isNull()
            | (F.col("g.total") != F.col("w.total"))
            | (F.col("g.n_rows") != F.col("w.n_rows"))
        )
        .count()
    )

    batch_secs = [b["trigger_s"] for b in report["batches"]]
    print(json.dumps({
        "sf_dir": sf_dir,
        "mode": mode,
        "n_slices": n_slices,
        "files_per_trigger": files_per_trigger,
        "n_src_files": n_src_files,
        "input_bytes": input_bytes,
        "stage_s": round(stage_s, 1),
        "n_batches": len(report["batches"]),
        "batch_append_s": [round(s, 2) for s in batch_secs],
        "batch_append_s_median": round(sorted(batch_secs)[len(batch_secs) // 2], 2)
        if batch_secs else None,
        "drain_s": round(report["drain_s"], 1),
        "compaction_s": round(report["compaction_s"], 1),
        "compacted_buckets": report["compacted_buckets"],
        "delta_bytes": delta_bytes,
        "base_bytes_after_compaction": base_bytes,
        "write_amp_append": round(delta_bytes / max(input_bytes, 1), 3),
        "mismatch_rows": diff,
    }))


if __name__ == "__main__":
    main()
