"""Streaming active-user ledger — the deduped (user, day) membership
grid maintained per micro-batch, serving the DAU/WAU/MAU dashboard
live (the batch events_dau_wau_mau, kept current).

Membership is SET-IDEMPOTENT (a user is active on a day or not —
seeing the same (user, day) twice changes nothing), so this store
runs the posting/winnow contract: per-batch partials are the batch's
DISTINCT (user, day) rows, reads dedup (user, day) across segments,
and replays/mid-compaction double-reads are harmless by idempotence
(epochs still tag segments so committed-epoch overwrite skips
rewrites).

  micro-batch of events
    → DISTINCT (user_id, epoch-day) rows (map-side dedup per batch)
    → one epoch segment

  read: distinct (user_id, d) across segments → the SAME
    dau_wau_mau_from_user_days closing as the batch query — the live
    dashboard bit-matches a batch scan over the union of all
    delivered events, whatever the batching (tested).

At 100 TB the ledger is |distinct user-days| rows — the engagement
fact's natural grain, far below event volume; compaction rewrites it
into one segment and idempotence makes that trivially safe.

Reference parity: none — extends the event-analytics family
(SURVEY §2.10) into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, twin


def _active_partial(events: DataFrame) -> DataFrame:
    """events → the batch's distinct (user_id, epoch-day) rows."""
    return events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).distinct()


def dau_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """DAU/WAU/MAU + stickiness from the stream-maintained membership
    grid — the SAME dau_wau_mau_from_user_days closing as the batch
    query, bit-matched over the union of all delivered events."""
    from open_pulsar_spark.operators.analytics import (
        dau_wau_mau_from_user_days,
    )

    return dau_wau_mau_from_user_days(spark, ACTIVE.read(spark, store_path))


def growth_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """Daily growth accounting (new / retained / resurrected / dormant
    + quick ratio) from the stream-maintained membership grid — the
    SAME growth_accounting_from_user_days closing as the batch
    user_growth_accounting query, bit-matched over the union of all
    delivered events whatever the batching (tested). Membership is
    set-idempotent, so replays and epoch-less backfills cannot
    perturb the ledger."""
    from open_pulsar_spark.operators.analytics import (
        growth_accounting_from_user_days,
    )

    grid = ACTIVE.read(spark, store_path).select(
        "user_id",
        F.timestamp_seconds(F.col("d") * 86400).alias("day"),
    )
    return growth_accounting_from_user_days(
        spark, grid, "active_stream_growth_seq"
    )


ACTIVE = twin(
    "active",
    partial=_active_partial,
    schema="user_id LONG, d LONG",
    keys=["user_id", "d"],
    fold=[],
    additive=False,
    source="events",
    readouts=[
        Readout(dau_readout, "events_dau_wau_mau"),
        Readout(growth_readout, "user_growth_accounting"),
    ],
    cluster=["d"],
)
