"""Streaming tail-risk monitor — the purchase-cents histogram ledger
folded per micro-batch, serving the VaR95/CVaR95 readout live (the
batch purchase_value_tail_risk, kept current).

Cents are exact integers, so the per-cents-bucket histogram is
ADDITIVE: this store runs the cms/stats/fano contract — epoch segments
are REQUIRED (an epoch-less additive write has no safe sentinel; a
replayed backfill would double-add), and reads dedup (epoch, cents)
BEFORE summing so the mid-compaction double-read window cannot
double-count:

  micro-batch of events
    → purchase slice → (cents, w) per-batch bucket counts
      (map-side combine)
    → one epoch segment

  read: dedup (epoch, cents) → sum per cents → the SAME
    tail_risk_from_cents_hist close as the batch query (VaR rank,
    boundary bucket, tail mean — all off the ledger), so the live risk
    readout bit-matches a batch scan over the union of all delivered
    events, whatever the batching (tested).

The ops story at 100 TB: the exact p95 order statistic needs full
history, so a naive implementation rescans the stream per refresh; the
folded ledger is |distinct cents| rows (value-domain-bounded) and the
readout is one prefix-scaffold pass over the ledger regardless of
event volume.

Reference parity: none — extends the monitoring/risk family
(SURVEY §2.10) into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, total, twin


def _risk_partial(events: DataFrame) -> DataFrame:
    """events → per-batch (cents, w) purchase-value bucket counts —
    the same purchase slice and cents rounding as the batch query."""
    return (
        events.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(F.expr("cast(round(value * 100) as bigint)").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("w"))
    )


def risk_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live VaR95/CVaR95 readout from the stream-maintained ledger
    — the SAME tail_risk_from_cents_hist close as the batch
    purchase_value_tail_risk, bit-matched over the union of all
    delivered events."""
    from open_pulsar_spark.operators.analytics import tail_risk_from_cents_hist

    return tail_risk_from_cents_hist(spark, RISK.read(spark, store_path))


RISK = twin(
    "risk",
    partial=_risk_partial,
    schema="cents LONG, w LONG",
    keys=["cents"],
    fold=[total("w")],
    additive=True,
    source="events",
    readouts=[Readout(risk_readout, "purchase_value_tail_risk")],
)
