"""Streaming trend monitor — the (segment, week) revenue-cents ledger
folded per micro-batch, serving the Mann-Kendall monotone-trend
readout live (the batch segment_revenue_mann_kendall, kept current).

Per-(segment, week) cent sums are ADDITIVE, so this store runs the
fano/risk contract: epoch segments are REQUIRED (an epoch-less
additive write has no safe sentinel — a replayed backfill would
double-add); reads dedup (epoch, segment, week) BEFORE summing so the
mid-compaction double-read window cannot double-count:

  micro-batch of segment-attributed order lines
    → (segment, week, cents) per-batch sums (map-side combine)
    → one epoch segment

  read: dedup (epoch, segment, week) → sum per (segment, week) → the
    SAME mann_kendall_from_weekly close as the batch query (pair-sign
    S statistic, exact-integer tie-corrected 5% significance), so the
    live trend call bit-matches a batch scan over the union of all
    delivered orders, whatever the batching (tested).

The ops story at 100 TB: S = Σ_{i<j} sign(x_j − x_i) needs the full
weekly history, so a naive implementation rescans the fact per
refresh; the folded ledger is |segments|·|weeks| rows (schema- and
calendar-bounded) and the close's quadratic pair join runs on that
grid regardless of order volume.

Reference parity: none — extends the monitoring family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.analytics import attributed_order_cents
from open_pulsar_spark.streaming.twins import Readout, total, twin


def _mk_partial(lines: DataFrame) -> DataFrame:
    """Segment-attributed order lines (segment, week, cents — the
    attributed_order_cents producer's row grain) → per-batch weekly
    cent sums."""
    return lines.groupBy("segment", "week").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )


def mk_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live trend readout from the stream-maintained ledger — the
    SAME mann_kendall_from_weekly close as the batch
    segment_revenue_mann_kendall, bit-matched over the union of all
    delivered orders."""
    from open_pulsar_spark.operators.analytics import mann_kendall_from_weekly

    return mann_kendall_from_weekly(
        spark, MK.read(spark, store_path), "mk_stream_weekly"
    )


MK = twin(
    "mk",
    partial=_mk_partial,
    schema="segment STRING, week TIMESTAMP, cents LONG",
    keys=["segment", "week"],
    fold=[total("cents")],
    additive=True,
    source=attributed_order_cents,
    readouts=[Readout(mk_readout, "segment_revenue_mann_kendall")],
)
