"""Structured Streaming: bounded file-source streams with availableNow,
cross-checked against the batch twins (which are themselves oracle-checked)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming import ingest, windows


def test_tumbling_stream_matches_batch(spark, sf_dir, tmp_path):
    ev_stream = windows.read_events_stream(spark, sf_dir)
    got = windows.run_to_memory(
        windows.tumbling_counts_stream(ev_stream), "t_tumbling"
    )
    # batch twin (oracle-checked in test_oracle_parity)
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.eventsops import (
        q_tumbling_hourly,
    )

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in q_tumbling_hourly(spark, sf_dir).collect()
    }
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in got.collect()
    }
    assert stream == batch


def test_session_stream_window_counts(spark, sf_dir):
    ev_stream = windows.read_events_stream(spark, sf_dir)
    got = windows.run_to_memory(
        windows.session_counts_stream(ev_stream), "t_sessions"
    )
    # total events across sessions == table size; session count matches the
    # batch gaps-and-islands sessionization
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.eventsops import (
        q_session_stats,
    )

    n_events_total = got.agg(F.sum("n_events")).collect()[0][0]
    assert n_events_total == load_table(spark, sf_dir, "events").count()
    assert got.count() == q_session_stats(spark, sf_dir).count()


def test_stream_append_ingest_bag_semantics(spark, tmp_path):
    """Six overlapping files through the streaming appender: every row of
    every file lands (bag), one micro-batch per file."""
    src = tmp_path / "src"
    src.mkdir()
    rows_per_file = [4, 4, 3, 2, 2, 2]
    for i, n in enumerate(rows_per_file):
        with open(src / f"txn-{i}.json", "w") as f:
            for j in range(n):
                f.write(
                    json.dumps(
                        {
                            "txn_id": 1000 + j,  # ids overlap across files
                            "product_name": f"p{j}",
                            "rep_id": "332",
                            "customer_name": f"c{j}",
                            "country": "USA",
                            "sale_date": "9/8/2020",
                            "sale_amount": 100.0 + j,
                        }
                    )
                    + "\n"
                )
    dest = str(tmp_path / "dest")
    n_batches = ingest.stream_append_ingest(
        spark, str(src), dest, str(tmp_path / "ckpt")
    )
    out = spark.read.parquet(dest)
    assert out.count() == sum(rows_per_file)          # duplicates preserved
    assert out.select("txn_id").distinct().count() == 4
    assert n_batches == len(rows_per_file)            # one file per trigger


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists across micro-batches — the
    second batch's emitted totals include the first batch's contribution."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.stateful import (
        running_user_totals,
    )
    from pyspark.sql import types as T

    src = tmp_path / "ev"
    src.mkdir()
    batches = [
        [(1, 10.0), (1, 5.0), (2, 1.0)],
        [(1, 2.0), (3, 7.0)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for uid, val in rows:
                f.write(json.dumps({"user_id": uid, "value": val}) + "\n")

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_stateful").collect()
    # cumulative totals = the max-n_events row per user (n is monotone;
    # file processing order is not guaranteed, so only the final state and
    # per-batch emission count are asserted)
    final = {}
    for r in rows:
        if r["user_id"] not in final or r["n_events"] > final[r["user_id"]][0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final[1] == (3, 17.0)
    assert final[2] == (1, 1.0)
    assert final[3] == (1, 7.0)
    # user 1 appears in both batches → emitted twice, once per micro-batch
    u1 = [(r["n_events"], r["total_value"]) for r in rows if r["user_id"] == 1]
    assert len(u1) == 2 and (3, 17.0) in u1


def test_last_emit_per_key_replay_idempotent(spark):
    """A crashed foreachBatch epoch replays as byte-identical appended rows
    under the same _epoch; the read-back must collapse to the same result
    with or without the duplicates (the sink's crash-recovery contract)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq import (
        last_emit_per_key,
    )

    cols = ["user_id", "n_events", "total_cents", "_epoch"]
    clean = spark.createDataFrame(
        [(1, 2, 100, 0), (1, 5, 260, 1), (2, 1, 40, 1)], cols
    )
    # epoch 1 replayed after a crash: its rows appended a second time
    replayed = clean.union(
        spark.createDataFrame([(1, 5, 260, 1), (2, 1, 40, 1)], cols)
    )
    want = {(1, 5, 260), (2, 1, 40)}
    assert {tuple(r) for r in last_emit_per_key(clean).collect()} == want
    assert {tuple(r) for r in last_emit_per_key(replayed).collect()} == want


def test_stateful_user_totals_query_spans_batches(spark, sf_dir):
    """The registered stream_stateful_user_totals query must (a) equal the
    batch groupBy bit-exactly (int-cents state — no float accumulation
    drift) and (b) actually exercise CROSS-batch state: with the events
    split 3 ways and maxFilesPerTrigger=1, users present in >1 split must
    be emitted in >1 epoch, each emission strictly growing n_events."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq import (
        STATEFUL_SPLIT_MOD,
        stream_stateful_user_totals,
    )

    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in stream_stateful_user_totals(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    want = {
        r["user_id"]: (r["n"], r["tc"])
        for r in ev.groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("tc"),
        )
        .collect()
    }
    assert got == want
    # cross-batch reality check: at sf0.001+ every user has events in at
    # least two of the three event_id-mod splits, so state MUST have
    # persisted across micro-batches for totals to match
    spans = (
        ev.select("user_id", (F.col("event_id") % STATEFUL_SPLIT_MOD).alias("s"))
        .groupBy("user_id")
        .agg(F.countDistinct("s").alias("ns"))
        .filter(F.col("ns") >= 2)
        .count()
    )
    assert spans > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics: an event older than (max ts seen - watermark)
    is dropped from the windowed aggregate once the watermark has
    propagated. Note the measured engine behavior: the watermark advanced
    by batch N's data takes effect for filtering in batch N+2 (one-batch
    propagation lag), hence the spacer batch."""
    import json as _json

    from pyspark.sql import types as T

    src = tmp_path / "late"
    src.mkdir()
    b0 = [("2024-01-01T10:05:00", "a"), ("2024-01-01T12:00:00", "a")]  # watermark -> 10:00
    b1 = [("2024-01-01T12:30:00", "a")]   # spacer: lets the watermark propagate
    b2 = [("2024-01-01T11:30:00", "a"),   # within watermark (>= 10:00) -> merged
          ("2024-01-01T08:10:00", "a")]   # before watermark -> dropped
    import os as _os
    import time as _time

    now = _time.time()
    for i, rows in enumerate([b0, b1, b2]):
        path = src / f"b{i}.json"
        with open(path, "w") as f:
            for ts, et in rows:
                f.write(_json.dumps({"ts": ts, "event_type": et, "value": 1.0}) + "\n")
        # force processing order: the file source picks files by mtime
        _os.utime(path, (now - 300 + i * 100, now - 300 + i * 100))
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r["ws"].hour, r["ws"].minute): r["n"] for r in spark.table("t_late").collect()}
    # 08:00 window must be absent (late beyond watermark); 11:00 present
    assert (8, 0) not in rows
    assert (11, 0) in rows


def test_stream_stream_attribution_join(spark, sf_dir):
    """Stream-stream inner join matches the batch equivalent on the same
    bounded input (events file stream, availableNow)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.joins import (
        click_purchase_attribution,
    )

    ev_stream = windows.read_events_stream(spark, sf_dir)
    q = (
        click_purchase_attribution(ev_stream)
        .writeStream.format("memory")
        .queryName("t_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_attrib")

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
    )
    assert got.count() == batch.count()
    assert got.count() > 0  # the fixture actually exercises the join
    s_pairs = {(r["click_id"], r["purchase_id"]) for r in got.collect()}
    b_pairs = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    assert s_pairs == b_pairs


def test_stream_dedup_drops_duplicate_ids(spark, sf_dir, tmp_path):
    """Streaming dropDuplicates: a twice-ingested corpus dedups to one copy
    per event_id across micro-batches."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.joins import (
        dedup_stream,
    )
    import shutil

    src = tmp_path / "dup"
    src.mkdir()
    # two identical files -> every event_id seen twice, in separate batches
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import (
        events_source_schema,
        normalize_event_ts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = normalize_event_ts(
        spark.readStream.schema(events_source_schema(spark, str(src / "a.parquet")))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("t_sdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_unique = load_table(spark, sf_dir, "events").count()
    assert spark.table("t_sdedup").count() == n_unique


def test_stream_corpus_gate_matches_batch(spark, sf_dir, tmp_path):
    """Streaming corpus gate == batch signal filter: a twice-ingested
    documents corpus (two micro-batches) dedups to one gated row per
    unique content, and the surviving doc set equals the batch filter."""
    import shutil

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import SCHEMAS
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.corpusops import (
        CORPUS_MIN_QUALITY,
        CORPUS_MIN_TOKENS,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.textops import (
        predicted_lang_col,
        quality_score_col,
        ws_tokens_col,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.corpus import (
        corpus_gate_stream,
    )

    src = tmp_path / "docs"
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", src / "b.parquet")
    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        corpus_gate_stream(stream)
        .writeStream.format("memory")
        .queryName("t_corpus_gate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_gate"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_corpus_gate")

    t = F.col("text")
    batch = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            ws_tokens_col(t).alias("ws_tokens"),
            quality_score_col(t).alias("quality_score"),
            predicted_lang_col(t).alias("predicted_lang"),
        )
        .filter(
            (F.col("predicted_lang") == "en")
            & (F.col("quality_score") >= CORPUS_MIN_QUALITY)
            & (F.col("ws_tokens") >= CORPUS_MIN_TOKENS)
        )
    )
    assert got.count() == batch.count()  # dedup collapsed the double ingest
    assert got.count() > 0
    assert {r["doc_id"] for r in got.collect()} == {r["doc_id"] for r in batch.collect()}


def test_stream_dedup_within_watermark_bounded_state(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: a twice-ingested corpus (both copies
    inside the watermark delay) dedups to one row per event_id, with state
    that expires — the unbounded-stream-safe dedup."""
    import shutil

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import (
        events_source_schema,
        normalize_event_ts,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.joins import (
        dedup_stream_within_watermark,
    )

    src = tmp_path / "dupw"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = normalize_event_ts(
        spark.readStream.schema(events_source_schema(spark, str(src / "a.parquet")))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        dedup_stream_within_watermark(stream)
        .writeStream.format("memory")
        .queryName("t_sdedup_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_unique = load_table(spark, sf_dir, "events").count()
    assert spark.table("t_sdedup_wm").count() == n_unique


def test_stream_incremental_merge_equals_batch_aggregate(spark, sf_dir, tmp_path):
    """foreachBatch MERGE: streaming order batches folded into versioned
    state equal the one-shot batch aggregate over all the data, and one
    snapshot exists per micro-batch."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.upsert import (
        read_latest_state,
        run_incremental_merge,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"), F.col("o_totalprice").alias("amount")
    )
    src = tmp_path / "batches"
    src.mkdir()
    # three disjoint single-file batches (split by key mod) at the source
    # root — the file stream delivers one micro-batch per file
    for i in range(3):
        orders.filter(F.col("key") % 3 == i).toPandas().to_parquet(
            str(src / f"b{i}.parquet"), index=False
        )
    run_incremental_merge(
        spark, str(src), str(tmp_path / "state"), str(tmp_path / "ckpt_merge")
    )
    import os

    versions = sorted(
        d for d in os.listdir(tmp_path / "state") if d.startswith("v")
    )
    assert len(versions) == 3  # one immutable snapshot per micro-batch
    got = read_latest_state(spark, str(tmp_path / "state"))
    expected = orders.groupBy("key").agg(
        F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    assert got.count() == expected.count()
    diff = got.alias("g").join(expected.alias("e"), "key").filter(
        (F.col("g.total") != F.col("e.total")) | (F.col("g.n_rows") != F.col("e.n_rows"))
    )
    assert diff.count() == 0


def test_stream_outer_attribution_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a click with a purchase in the band
    emits joined; a click with no purchase emits with NULLs once the
    watermark passes its window. Batches are mtime-ordered files (the
    same watermark-advancement technique as the late-events test; outer
    results emit one trigger after eviction, hence the spacer batches)."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.joins import (
        click_purchase_attribution_outer,
    )

    src = tmp_path / "outer"
    src.mkdir()
    b0 = [  # one matched click, one destined to be unmatched
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7, "event_type": "click",
         "value": 0.0},
        {"event_id": 2, "ts": "2024-01-01T10:10:00", "user_id": 7, "event_type": "purchase",
         "value": 9.5},
        {"event_id": 3, "ts": "2024-01-01T10:00:00", "user_id": 8, "event_type": "click",
         "value": 0.0},
    ]
    # watermark advancers: the watermark columns exist only AFTER the
    # click/purchase filters, and the join uses min(both watermarks) — so
    # the advancers must be clicks AND purchases (non-matching: each
    # purchase precedes its same-batch click). They push the watermark
    # beyond 10:00 + 30min band + 1h delay so click 3 is provably
    # unmatched.
    def adv(eid, hour):
        return [
            {"event_id": eid, "ts": f"2024-01-01T{hour}:00:00", "user_id": 1,
             "event_type": "purchase", "value": 1.0},
            {"event_id": eid + 1, "ts": f"2024-01-01T{hour}:01:00", "user_id": 2,
             "event_type": "click", "value": 0.0},
        ]

    b1, b2, b3 = adv(20, 14), adv(30, 15), adv(40, 16)
    now = _time.time()
    for i, rows in enumerate([b0, b1, b2, b3]):
        path = src / f"b{i}.json"
        with open(path, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(path, (now - 400 + i * 100, now - 400 + i * 100))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = (
        click_purchase_attribution_outer(stream)
        .writeStream.format("memory")
        .queryName("t_outer_attr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["click_id"]: r for r in spark.table("t_outer_attr").collect()}
    assert rows[1]["purchase_id"] == 2          # matched inside the band
    assert rows[1]["purchase_value"] == 9.5
    assert 3 in rows and rows[3]["purchase_id"] is None  # outer NULL emitted


def test_stream_source_handles_directory_layout(spark, sf_dir, tmp_path):
    """catalog.stream_table_source must read a Spark-WRITTEN table (a
    directory of part files — the scaleup.py sf1 layout and any real
    warehouse) identically to the driver testdata's single-file layout;
    the old pathGlobFilter-only form silently streamed ZERO rows from a
    directory (caught by the r5 all-196 sf1 pass)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq import (
        stream_exact_dedup,
    )

    # re-write the documents table in directory layout under a scratch sf dir
    docs = load_table(spark, sf_dir, "documents")
    dir_sf = str(tmp_path / "sfdir")
    docs.write.mode("overwrite").parquet(f"{dir_sf}/documents.parquet")

    single = {
        (r["fingerprint"], r["first_doc_id"], r["n_copies"])
        for r in stream_exact_dedup(spark, sf_dir).collect()
    }
    directory = {
        (r["fingerprint"], r["first_doc_id"], r["n_copies"])
        for r in stream_exact_dedup(spark, dir_sf).collect()
    }
    assert len(directory) > 0
    assert directory == single


def test_cow_fixture_memoized_per_corpus(spark, sf_dir, monkeypatch):
    """VERDICT r6: the four CoW/MoR queries rebuilt their two-merge state
    fixture on EVERY invocation (the most expensive registered queries in
    a sweep). The build is now memoized per (orders file set, semantic
    hash, tag): repeated calls return the SAME committed state dir and
    run zero merges; SPARK_GRAFT_BUILD_CACHE=0 disables (bench measures
    the unmemoized build)."""
    import pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq as sq
    import pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert as pu

    monkeypatch.setattr(sq, "_COW_STATE_MEMO", {})
    calls = {"n": 0}
    real_merge = pu.merge_batch_into_partitioned_state

    def counting_merge(*a, **kw):
        calls["n"] += 1
        return real_merge(*a, **kw)

    monkeypatch.setattr(pu, "merge_batch_into_partitioned_state", counting_merge)
    # streamingq binds the function at call time via module import
    s1 = sq._build_cow_spend_state(spark, sf_dir)
    assert calls["n"] == 2  # the two-batch build ran once
    s2 = sq._build_cow_spend_state(spark, sf_dir)
    assert s2 == s1 and calls["n"] == 2  # memo hit: zero extra merges
    # distinct fixtures (different tag) key apart and build independently
    sq.cow_merge_changes(spark, sf_dir)
    n_after_cdf = calls["n"]
    assert n_after_cdf == 4
    sq.cow_merge_changes(spark, sf_dir)
    assert calls["n"] == n_after_cdf  # second CDF call also memo-hits
    # kill switch: no memo, fresh dir, merges re-run
    monkeypatch.setenv("SPARK_GRAFT_BUILD_CACHE", "0")
    s3 = sq._build_cow_spend_state(spark, sf_dir)
    assert s3 != s1 and calls["n"] == n_after_cdf + 2


def test_stream_mor_ingest_equals_batch_fold(spark, sf_dir, monkeypatch):
    """End-to-end streaming merge-on-read: readStream -> foreachBatch
    delta appends -> one compaction -> base read must equal the batch
    MoR fold (mor_scattered_fold) value-for-value, AND the hot path must
    write ZERO copy-on-write bucket versions — buckets appear only with
    the compaction's 'x' commit."""
    import os

    import pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq as sq

    monkeypatch.setattr(sq, "_COW_STATE_MEMO", {})
    streamed = {
        (r["key"]): (r["total"], r["n_rows"])
        for r in sq.stream_mor_ingest(spark, sf_dir).collect()
    }
    batch = {
        (r["key"]): (r["total"], r["n_rows"])
        for r in sq.mor_scattered_fold(spark, sf_dir).collect()
    }
    assert len(streamed) > 0
    assert streamed == batch

    # fs-level shape: every bucket version dir is a compaction commit
    # ('x' suffix) — the streamed micro-batches themselves never rewrote
    # a bucket (the O(|batch|) hot-path claim)
    state = sq._memoized_state(spark, sf_dir, "stream_mor", lambda *a: None)
    broot = os.path.join(state, "buckets")
    versions = {
        v
        for b in os.listdir(broot)
        for v in os.listdir(os.path.join(broot, b))
    }
    assert versions and all("x" in v for v in versions)
    # and both CDC micro-batches landed as delta commits (dir names are
    # attempt-suffixed: v{batch}-{attempt})
    assert sorted(
        d.split("-")[0] for d in os.listdir(os.path.join(state, "deltas"))
    ) == ["v000000000", "v000000001"]


def test_gap_sessions_matches_batch_sessionization(spark, tmp_path):
    """Streamed gap sessionization (applyInPandasWithState with
    ProcessingTimeTimeout, r10) equals the batch boundary-cumsum
    sessionization on the same rows — session ids, counts and integer-us
    bounds bit-exact; flush markers close trailing sessions through the
    data path and leave no state behind."""
    import os as _os

    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.stateful import (
        gap_sessions,
    )

    src = str(tmp_path / "src")
    _os.makedirs(src)
    gap = 100
    rows = [
        # user 1: two sessions (gap of 150 > 100 between 2nd and 3rd)
        (1, 1000, False), (1, 1050, False), (1, 1200, False),
        # user 2: one session, single event
        (2, 5000, False),
        # user 3: three sessions of one event each
        (3, 10, False), (3, 500, False), (3, 1000, False),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, flush boolean")
    # two data files (split mid-user-1-session is avoided by user split)
    df.filter(F.col("user_id") != 3).coalesce(1).write.parquet(f"{src}/f0")
    df.filter(F.col("user_id") == 3).coalesce(1).write.parquet(f"{src}/f1")
    flush = spark.createDataFrame(
        [(u, 0, True) for u in (1, 2, 3)], "user_id long, ts_us long, flush boolean"
    )
    flush.coalesce(1).write.parquet(f"{src}/f2")

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("flush", T.BooleanType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out_dir = str(tmp_path / "out")
    q = (
        gap_sessions(stream, gap, timeout_ms=600_000)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, e: b.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    import time as _time

    deadline = _time.monotonic() + 120
    want = {
        (1, 1, 2, 1000, 1050),
        (1, 2, 1, 1200, 1200),
        (2, 1, 1, 5000, 5000),
        (3, 1, 1, 10, 10),
        (3, 2, 1, 500, 500),
        (3, 3, 1, 1000, 1000),
    }
    got: set = set()
    try:
        while _time.monotonic() < deadline:
            try:
                got = {
                    (
                        r["user_id"], r["session_seq"], r["n_events"],
                        r["session_start_us"], r["session_end_us"],
                    )
                    for r in spark.read.parquet(out_dir).collect()
                }
            except Exception:
                got = set()
            if got == want:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    assert got == want


def test_gap_sessions_processing_time_timeout_evicts_and_emits(spark, tmp_path):
    """The EXPIRY path itself: a key that goes silent past the processing
    -time timeout gets its open session emitted with closed_by='timeout'
    and its state REMOVED — no flush marker involved. A later no-data
    batch fires it, which is why the engine keeps scheduling batches
    under ProcessingTimeTimeout. State removal is observed via the
    stateOperators metrics (numRowsRemoved) reported after the firing
    batch."""
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.stateful import (
        gap_sessions,
    )

    src = str(tmp_path / "src")
    _os.makedirs(src)
    spark.createDataFrame(
        [(7, 100, False), (7, 150, False)], "user_id long, ts_us long, flush boolean"
    ).coalesce(1).write.parquet(f"{src}/f0")

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("flush", T.BooleanType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out_dir = str(tmp_path / "out")
    q = (
        gap_sessions(stream, 1000, timeout_ms=1500)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, e: b.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    rows = []
    try:
        deadline = _time.monotonic() + 90
        while _time.monotonic() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
            except Exception:
                rows = []
            if rows:
                break
            _time.sleep(0.5)
        assert rows, "timeout never fired within 90s"
        # the emitted session is the key's FULL open session, closed by
        # the timeout — eviction produced it, not a flush marker
        assert [
            (
                r["user_id"], r["session_seq"], r["n_events"],
                r["session_start_us"], r["session_end_us"], r["closed_by"],
            )
            for r in rows
        ] == [(7, 1, 2, 100, 150, "timeout")]
        # ...and the state store shrank: some progress entry after the
        # firing batch reports the removed row
        removed = 0
        removal_deadline = _time.monotonic() + 30
        while _time.monotonic() < removal_deadline and not removed:
            removed = sum(
                s["numRowsRemoved"]
                for p in q.recentProgress
                for s in p["stateOperators"]
            )
            if not removed:
                _time.sleep(0.5)
        assert removed >= 1
    finally:
        q.stop()


def test_gap_sessions_flush_in_same_batch_as_data(spark, tmp_path):
    """A flush marker landing in the SAME micro-batch as the key's events
    must close the session AFTER those events folded — markers sort last
    regardless of their placeholder ts (r10 review catch: ts-only
    sorting processed a ts=0 marker first, no-opped against empty state,
    and the session never emitted)."""
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.stateful import (
        gap_sessions,
    )

    src = str(tmp_path / "src")
    _os.makedirs(src)
    spark.createDataFrame(
        [(5, 1000, False), (5, 1050, False), (5, 0, True)],
        "user_id long, ts_us long, flush boolean",
    ).coalesce(1).write.parquet(f"{src}/f0")

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("flush", T.BooleanType()),
        ]
    )
    out_dir = str(tmp_path / "out")
    q = (
        gap_sessions(
            spark.readStream.schema(schema).parquet(f"{src}/*"), 100, 600_000
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, e: b.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    rows = []
    try:
        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
            except Exception:
                rows = []
            if rows:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    assert [
        (
            r["user_id"], r["session_seq"], r["n_events"],
            r["session_start_us"], r["session_end_us"], r["closed_by"],
        )
        for r in rows
    ] == [(5, 1, 2, 1000, 1050, "flush")]


def test_event_time_sessions_deterministic_watermark_close(spark, tmp_path):
    """Event-time sessionization (EventTimeTimeout, r10): sessions close
    by the key's own gap or by the watermark passing the gap horizon —
    both data-determined, no wall clock. availableNow terminates on its
    own (one extra batch per watermark advance), cross-batch state
    merges a key's events arriving in different micro-batches, and the
    close mechanism is deterministic: non-final sessions 'gap', final
    sessions 'watermark' once the sentinel advances past every horizon."""
    import datetime as _dt
    import os as _os

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.stateful import (
        event_time_sessions,
    )

    def ts(s):
        return _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=s)

    src = str(tmp_path / "src")
    _os.makedirs(src)
    batches = [
        [(1, ts(0)), (1, ts(1)), (2, ts(2))],
        [(1, ts(30)), (2, ts(3))],  # user1: >10s gap; user2: same session
        [(-1, ts(120))],  # watermark sentinel
    ]
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq import (
        _publish_single_file_batch,
    )

    for i, rows in enumerate(batches):
        _publish_single_file_batch(
            spark,
            spark.createDataFrame(rows, "user_id long, ts timestamp"),
            src,
            f"f{i}",
            seq=i,
        )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    out_dir = str(tmp_path / "out")
    q = (
        event_time_sessions(stream, 10_000_000)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, e: b.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow did not self-terminate"

    base_us = int(ts(0).timestamp()) * 1_000_000
    got = {
        (
            r["user_id"], r["session_seq"], r["n_events"],
            r["session_start_us"] - base_us, r["session_end_us"] - base_us,
            r["closed_by"],
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        (1, 1, 2, 0, 1_000_000, "gap"),
        (1, 2, 1, 30_000_000, 30_000_000, "watermark"),
        # user2's events arrived in DIFFERENT batches -> one session
        (2, 1, 2, 2_000_000, 3_000_000, "watermark"),
    }
