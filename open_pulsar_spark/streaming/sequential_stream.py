"""Streaming experiment ledger — the daily per-variant exposure/
conversion counts of an unbounded event stream kept as ADDITIVE
per-epoch partials, with the anytime-valid monitor computed at read
time (the incremental form of operators.analytics.ab_test_sequential).

This is the natural deployment of a peeking-safe test: the boundary
is DESIGNED to be read continuously, so its inputs should be
maintained continuously — per micro-batch, events reduce to per-day
variant counts (map-side combinable, ≤ |days touched| rows/epoch);
the fold sums partials per day; the read path runs the SAME
sequential_from_daily as the batch query — so the live monitor and a
batch run over the union of all delivered rows are BIT-IDENTICAL
(tested), whatever the batching.

Replay contract: additive partials (cms_stream's class) — epoch is
REQUIRED, a replayed epoch is skipped by the overwrite contract, and
the fold dedups (epoch, day) before summing. Epoch-less backfills are
refused.

Store size: ≤ |days touched per batch| rows per epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.analytics import (
    sequential_daily_counts,
    sequential_from_daily,
)
from open_pulsar_spark.streaming.twins import Readout, total, twin


def _seq_stream_partial(events: DataFrame) -> DataFrame:
    """events → per-batch daily variant counts (the SAME md5-coin
    tagging and reduction as the batch query)."""
    tagged = events.select(
        F.to_date("ts").alias("day"),
        F.expr(
            "CASE WHEN conv(substring(md5(cast(user_id as string)), 1, 8),"
            " 16, 10) % 2 = 0 THEN 0 ELSE 1 END"
        ).alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    return sequential_daily_counts(tagged)


def monitor_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The anytime-valid monitor table from the stream-maintained
    ledger — the same sequential_from_daily as the batch query, so
    the peeking-safe boundary and significance flags agree bit-for-bit
    with a batch run over the union of all delivered rows."""
    return sequential_from_daily(spark, SEQUENTIAL.read(spark, store_path))


SEQUENTIAL = twin(
    "sequential",
    partial=_seq_stream_partial,
    schema="day DATE, d_na LONG, d_nb LONG, d_ca LONG, d_cb LONG",
    keys=["day"],
    fold=[total(c) for c in ("d_na", "d_nb", "d_ca", "d_cb")],
    additive=True,
    source="events",
    readouts=[Readout(monitor_readout, "ab_test_sequential")],
)
