"""Streaming hourly-dispersion monitor — the (type, hour) count ledger
folded per micro-batch, serving the Fano overdispersion readout live
(the batch events_hourly_fano, kept current).

Per-(type, hour) counts are ADDITIVE, so this store runs the
cms/stats/pchart contract: epoch segments are REQUIRED (an epoch-less
additive write has no safe sentinel — a replayed backfill would
double-add); reads dedup (epoch, event_type, h) BEFORE summing so the
mid-compaction double-read window cannot double-count:

  micro-batch of events
    → (type, hour, count) per-batch counts (map-side combine)
    → one epoch segment

  read: dedup (epoch, type, h) → sum per (type, hour) → the SAME
    fano_from_hourly close as the batch query (moments + span from the
    ledger itself), so the live dispersion readout bit-matches a batch
    scan over the union of all delivered events, whatever the batching
    (tested).

The ops story at 100 TB: Fano needs the full-history hourly moments,
so a naive implementation rescans the stream per refresh; the folded
ledger is |types|·|hours| rows (calendar-bounded) and the close is
O(ledger) integer arithmetic regardless of event volume.

Reference parity: none — extends the monitoring family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, total, twin


def _fano_partial(events: DataFrame) -> DataFrame:
    """events → per-batch (type, hour, count), the hour truncated on
    the epoch-seconds grid."""
    return events.groupBy(
        "event_type",
        F.timestamp_seconds(
            F.expr("unix_seconds(date_trunc('hour', ts)) div 3600") * 3600
        ).alias("h"),
    ).agg(F.count("*").cast("bigint").alias("c"))


def fano_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live dispersion readout from the stream-maintained ledger —
    the SAME fano_from_hourly close as the batch events_hourly_fano,
    bit-matched over the union of all delivered events."""
    from open_pulsar_spark.operators.analytics import fano_from_hourly

    return fano_from_hourly(
        spark, FANO.read(spark, store_path), "fano_stream_hourly"
    )


def mix_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """SECOND readout off the same hourly ledger (one ledger, two
    readouts — the active_stream membership-grid pattern): the
    weekday/weekend per-day-rate lift, via the SAME
    weekday_mix_from_daily close as the batch weekday_weekend_mix —
    the ledger's hours roll up to (type, day) counts, and the observed
    calendar is the ledger's own distinct days, exactly as the batch
    query derives it from raw events."""
    from open_pulsar_spark.operators.analytics import weekday_mix_from_daily

    daily = (
        FANO.read(spark, store_path)
        .groupBy("event_type", F.date_trunc("day", "h").alias("day"))
        .agg(F.sum("c").cast("bigint").alias("n"))
    )
    return weekday_mix_from_daily(spark, daily, "fano_stream_mix_daily")


FANO = twin(
    "fano",
    partial=_fano_partial,
    schema="event_type STRING, h TIMESTAMP, c LONG",
    keys=["event_type", "h"],
    fold=[total("c")],
    additive=True,
    source="events",
    readouts=[
        Readout(fano_readout, "events_hourly_fano"),
        Readout(mix_readout, "weekday_weekend_mix"),
    ],
)
