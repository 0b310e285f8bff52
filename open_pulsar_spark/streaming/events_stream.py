"""Event-time streaming pipelines over the `events` table shape:
watermarks, tumbling/sliding/session windows, streaming dedup.

The reference has NO event-time logic (processing order = update_id
arrival, SURVEY §2.9); these are the declared north-star gap, built
entirely from Structured Streaming primitives. Each builder takes any
events-shaped DataFrame — batch or `readStream` — and returns the
transformed frame; tests drive them with a file source +
`processAllAvailable()` into a memory sink.

Offset/checkpoint semantics (SURVEY T1/K5): `start(checkpoint=...)`
gives the WAL + state store that replaces the reference's tmp+rename
offset/session persistence wholesale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based streaming source over events-shaped parquet.

    In production this is the message-bus connector (the driver's
    declared Pulsar source); the engine only requires "a streaming
    DataFrame with this schema", so the source is swappable.
    """
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling aggregation: late rows beyond the watermark
    are dropped; window state is evicted once the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_value(
    events: DataFrame,
    window: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window per-type value sums."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "total_value")
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup on event_id bounded by the watermark — the
    scalable form of the reference's in-memory dedup sets (SURVEY T3):
    state is evicted as event-time advances instead of growing forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def click_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER interval join: attribute each purchase to
    the clicks of the same user within the preceding attribution
    window — the streaming form of the batch as-of join
    (click_asof_purchase).

    Both sides carry watermarks and the join condition bounds event
    time on BOTH ends, so Structured Streaming can evict buffered rows
    as the watermark advances: state per side is O(events within
    watermark + interval), never unbounded. At 100 TB/day this is the
    canonical attribution-join shape — key-partitioned state, no
    driver involvement.
    """
    c = (
        clicks.where(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.where(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
    )
    return p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")
        ),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "amount", "click_id", "click_ts")
