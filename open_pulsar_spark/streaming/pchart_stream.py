"""Streaming SPC p-chart — the daily (events, errors) ledger folded
per micro-batch, serving the error-rate control chart live (the batch
error_rate_pchart, kept current).

Per-day counts are ADDITIVE, so this store runs the cms/stats/dq
contract: epoch segments are REQUIRED (an epoch-less additive write
has no safe sentinel — a replayed backfill would double-add), reads
dedup (epoch, d) BEFORE summing so the mid-compaction double-read
window cannot double-count:

  micro-batch of events
    → (epoch-day, n, e) per-batch counts (map-side combine)
    → one epoch segment

  read: dedup (epoch, d) → sum per day → the SAME pchart_from_daily
    close as the batch query (center line, 3σ binomial band as the
    exact integer inequality), so the live chart bit-matches a batch
    scan over the union of all delivered events, whatever the
    batching (tested).

The ops story at 100 TB: the control band needs the GLOBAL process
average, so a naive implementation rescans history every refresh;
the folded ledger is |days| rows, and the 3σ test is integer
arithmetic against a 1-row total — the chart refresh costs O(days)
regardless of event volume.

Reference parity: none — extends the monitoring family
(SURVEY §2.10) into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, total, twin


def _pchart_partial(events: DataFrame) -> DataFrame:
    """events → per-batch (epoch-day, total, errors) counts."""
    return events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )


def pchart_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live control chart from the stream-maintained ledger — the
    SAME pchart_from_daily close as the batch error_rate_pchart,
    bit-matched over the union of all delivered events."""
    from open_pulsar_spark.operators.analytics import pchart_from_daily

    daily = PCHART.read(spark, store_path).select(
        F.timestamp_seconds(F.col("d") * 86400).alias("day"),
        "n_events",
        "n_errors",
    )
    return pchart_from_daily(spark, daily)


PCHART = twin(
    "pchart",
    partial=_pchart_partial,
    schema="d LONG, n_events LONG, n_errors LONG",
    keys=["d"],
    fold=[total("n_events"), total("n_errors")],
    additive=True,
    source="events",
    readouts=[Readout(pchart_readout, "error_rate_pchart")],
)
