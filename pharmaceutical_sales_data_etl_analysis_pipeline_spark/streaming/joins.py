"""Stream-stream joins and streaming dedup (SURVEY.md §2.10 surface).

Stream-stream inner join with watermarks on both sides and a time-band
predicate: Spark buffers each side's rows in the state store until the
watermark passes the band, so state is bounded. The shape here — purchases
within 30 minutes after a click by the same user — is the attribution-join
every event pipeline needs.

Streaming dropDuplicates with watermark is the streaming twin of
operators/dedup.exact_dedup: state holds one entry per key until the
watermark expires it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ATTRIBUTION_WINDOW = "30 minutes"


def click_purchase_attribution(events_stream: DataFrame) -> DataFrame:
    """Attribution shape: click c ⋈ purchase p on user within (0, 30 min]
    after c. Both sides carry watermarks so the join state is evicted once
    no more matches can arrive; the band predicate bounds buffering to the
    window."""
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def dedup_stream_within_watermark(events_stream: DataFrame) -> DataFrame:
    """Bounded-state streaming dedup (Spark 3.5+): key-only dedup whose
    state entries expire once the watermark passes their event time — the
    production shape for unbounded streams, trading global exactness for
    'no duplicates arriving within the watermark delay of each other'
    (which is the guarantee at-least-once sources actually need)."""
    return events_stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
