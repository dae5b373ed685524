"""Streaming window aggregations over an events stream.

Batch twins live in operators/eventsops.py (oracle-checked); these wire the
same logic through readStream/writeStream with watermarking. Tested with a
file source + availableNow trigger (deterministic, replayable); on a real
cluster the source becomes Kafka/files-on-arrival and nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_source_schema, normalize_event_ts, stream_table_source
from ..operators.eventsops import VAL_DEC


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (ns timestamps → micros,
    mirroring catalog.load_table). sf_dir is the scale-factor directory;
    catalog.stream_table_source picks the right source shape for the
    single-file (driver testdata) vs directory (Spark-written) layout."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = stream_table_source(
        spark, sf_dir, "events",
        events_source_schema(spark, f"{sf_dir}/events.parquet"),
    )
    return normalize_event_ts(raw)


def tumbling_counts_stream(events: DataFrame, window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(VAL_DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with a dynamic gap — the streaming twin of the
    batch gaps-and-islands sessionization (eventsops.sessionize)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drain a (bounded) stream with availableNow into an in-memory sink and
    return the result as a batch DataFrame. Complete-output mode: these are
    windowed aggregations."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)
