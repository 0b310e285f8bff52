"""Streaming revenue-trend monitor — the (segment, month) revenue-cents
ledger folded per micro-batch, serving BOTH trend readouts live (the
batch segment_revenue_trend OLS and segment_revenue_theilsen robust
twins, kept current — one ledger, two readouts, the cusum_stream
pattern).

Per-(segment, month) cent sums are ADDITIVE, so this store runs the
fano/risk/mk contract: epoch segments are REQUIRED (an epoch-less
additive write has no safe sentinel — a replayed backfill would
double-add); reads dedup (epoch, segment, month) BEFORE summing so the
mid-compaction double-read window cannot double-count:

  micro-batch of segment-attributed order lines
    → (segment, month, cents) per-batch sums (map-side combine)
    → one epoch segment

  read: dedup (epoch, segment, month) → sum per (segment, month) → the
    SAME xy_from_monthly reindexing and the SAME ols_trend_from_xy /
    theilsen_from_xy closes as the batch queries, so both live slope
    readouts bit-match batch scans over the union of all delivered
    orders, whatever the batching (tested). Reindexing runs per
    readout because x is each segment's offset from its FIRST month —
    a new earliest month shifts the index, exactly as it would in
    batch.

The ops story at 100 TB: OLS needs five distributive sums over the
full monthly history and Theil-Sen needs every month PAIR, so naive
implementations rescan the fact per refresh; the folded ledger is
|segments|·|months| rows (schema- and calendar-bounded), the OLS
readout is one aggregate over it, and the quadratic pair join runs on
that grid regardless of order volume.

Reference parity: none — extends the monitoring family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.analytics import attributed_order_month_cents
from open_pulsar_spark.streaming.twins import Readout, total, twin


def _trend_partial(lines: DataFrame) -> DataFrame:
    """Segment-attributed order lines (segment, month, cents — the
    attributed_order_month_cents producer's row grain) → per-batch
    monthly cent sums."""
    return lines.groupBy("segment", "month").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )


def _ledger_xy(spark: SparkSession, store_path: str) -> DataFrame:
    from open_pulsar_spark.operators.analytics import xy_from_monthly

    return xy_from_monthly(
        spark, TREND.read(spark, store_path), "trend_stream_monthly"
    )


def trend_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """Live OLS slope per segment from the stream-maintained ledger —
    the SAME ols_trend_from_xy close as the batch
    segment_revenue_trend, bit-matched over the union of all delivered
    orders."""
    from open_pulsar_spark.operators.analytics import ols_trend_from_xy

    return ols_trend_from_xy(_ledger_xy(spark, store_path))


def theilsen_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """SECOND readout off the SAME monthly ledger (one ledger, two
    readouts): the robust Theil-Sen slope via the SAME theilsen_from_xy
    close as the batch segment_revenue_theilsen — OLS for efficiency,
    Theil-Sen to tell you when OLS is lying, both live."""
    from open_pulsar_spark.operators.analytics import theilsen_from_xy

    return theilsen_from_xy(
        _ledger_xy(spark, store_path), "trend_stream_theilsen_xy"
    )


TREND = twin(
    "trend",
    partial=_trend_partial,
    schema="segment STRING, month TIMESTAMP, cents LONG",
    keys=["segment", "month"],
    fold=[total("cents")],
    additive=True,
    source=attributed_order_month_cents,
    readouts=[
        Readout(trend_readout, "segment_revenue_trend"),
        Readout(theilsen_readout, "segment_revenue_theilsen"),
    ],
)
