"""Structured Streaming: bounded file-source streams with availableNow,
cross-checked against the batch twins (which are themselves oracle-checked)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import (
    load_table,
    normalize_event_ts,
    stream_table_source,
)


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists across micro-batches — the
    second batch's emitted totals include the first batch's contribution."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.stateful import (
        running_user_totals_cents,
    )
    from pyspark.sql import types as T

    src = tmp_path / "ev"
    src.mkdir()
    batches = [
        [(1, 1000), (1, 500), (2, 100)],
        [(1, 200), (3, 700)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for uid, val in rows:
                f.write(json.dumps({"user_id": uid, "cents": val}) + "\n")

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("cents", T.LongType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        running_user_totals_cents(stream)
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
            final[r["user_id"]] = (r["n_events"], r["total_cents"])
    assert final[1] == (3, 1700)
    assert final[2] == (1, 100)
    assert final[3] == (1, 700)
    # user 1 appears in both batches → emitted twice, once per micro-batch
    u1 = [(r["n_events"], r["total_cents"]) for r in rows if r["user_id"] == 1]
    assert len(u1) == 2 and (3, 1700) in u1


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

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev_stream = normalize_event_ts(stream_table_source(spark, sf_dir, "events", schema))
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


def test_stream_dedup_within_watermark_bounded_state(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: a twice-ingested corpus (both copies
    inside the watermark delay) dedups to one row per event_id, with state
    that expires — the unbounded-stream-safe dedup."""
    import shutil

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.joins import (
        dedup_stream_within_watermark,
    )

    src = tmp_path / "dupw"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(str(src / "a.parquet")).schema)
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


def test_stream_mor_ingest_equals_batch_fold(spark, sf_dir, monkeypatch):
    """End-to-end streaming merge-on-read: readStream -> foreachBatch
    delta appends -> one compaction -> base read must equal the batch
    MoR fold (mor_scattered_fold) value-for-value, AND the hot path must
    write ZERO copy-on-write bucket versions — buckets appear only with
    the compaction's 'x' commit."""
    import os

    import pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq as sq

    states, real_fixture_state = {}, sq._fixture_state

    def recording_fixture_state(spark, sf_dir, tag, build):
        states[tag] = out = real_fixture_state(spark, sf_dir, tag, build)
        return out

    monkeypatch.setattr(sq, "_fixture_state", recording_fixture_state)
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
    state = states["stream_mor"]
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


class _FakeRun:
    """A stream of 4 files seen through drain(): it stands in for the
    query, the progress log and the clock. Each sleep advances the clock
    by `step_s` and completes the next scripted batch (its input rows)."""

    id = "q"

    def __init__(self, rows_per_batch, step_s, stops_after=None):
        self.script, self.step_s, self.stops_after = list(rows_per_batch), step_s, stops_after
        self.done: list[dict] = []
        self.now = 0.0

    @property
    def isActive(self):
        return self.stops_after is None or len(self.done) < self.stops_after

    def awaitTermination(self, timeout=None):
        return True

    def batches(self, qid):
        return list(self.done)

    def wait_terminated(self, qid, timeout_s):
        return True

    def monotonic(self):
        return self.now

    def sleep(self, _s):
        self.now += self.step_s
        if self.script:
            self.done.append({"input_rows": self.script.pop(0)})


def test_drain_caps_on_progress_not_wall_time(monkeypatch):
    """A slow stream that keeps delivering rows drains however long it
    takes (a 300 s deadline raised here); a stream whose batches stop
    adding rows, overrun the batch budget, stop early or stop completing
    raises StreamStalled (a RuntimeError)."""
    import pytest

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming import progress

    def drain(run, n_expected, **kw):
        monkeypatch.setattr(progress, "time", run)
        progress.drain(run, run, n_expected, 4, "fake", **kw)

    slow = _FakeRun([10, 10, 10, 10], step_s=400.0)
    drain(slow, 40)
    assert slow.now >= 1200.0
    # self-terminating: trailing no-data batches after the rows are fine
    ends = _FakeRun([10, 10, 0, 0, 0, 0], step_s=400.0, stops_after=6)
    drain(ends, 20, until_terminated=True)
    assert len(ends.done) == 6
    cases = [
        (_FakeRun([10, 0, 0, 0, 0, 0, 10], step_s=1.0), "consecutive micro-batches"),
        (_FakeRun([1] * 20, step_s=1.0), "termination contract"),
        (_FakeRun([10, 10], step_s=1.0, stops_after=2), "stopped before"),
        (_FakeRun([10], step_s=700.0), "no micro-batch completed"),
    ]
    for run, msg in cases:
        with pytest.raises(progress.StreamStalled, match=msg):
            drain(run, 40)
    assert issubclass(progress.StreamStalled, RuntimeError)


def test_cow_keyrange_lookup_prunes_to_a_strict_bucket_subset(spark, sf_dir, monkeypatch):
    """The lookup's key range comes from the key domain: it is populated
    at the test scale, and the fixture buckets it reads are a strict
    subset of the table's."""
    import pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq as sq
    import pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert as pu

    states, real_build = [], sq._build_cow_spend_state

    def recording_build(spark, sf_dir):
        states.append(real_build(spark, sf_dir))
        return states[-1]

    monkeypatch.setattr(sq, "_build_cow_spend_state", recording_build)
    rows = sq.cow_keyrange_lookup(spark, sf_dir).collect()
    max_key = load_table(spark, sf_dir, "orders").agg(F.max("o_custkey")).first()[0]
    lo, hi = sq.cow_lookup_range(max_key)
    assert rows and all(lo <= r["key"] <= hi for r in rows)
    [state] = states
    manifest = pu._latest_manifest(spark, state)
    read = pu.keyrange_bucket_ids(manifest, lo, hi)
    assert read and set(read) < set(manifest["buckets"])
