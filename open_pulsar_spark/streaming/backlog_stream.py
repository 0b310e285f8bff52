"""Streaming open-order backlog — the daily (+opened, −closed) ledger
folded per micro-batch, serving the backlog depth curve live (the
batch orders_backlog_depth, kept current).

Input contract: RESOLVED order spans (o_orderkey, open_day, close_day)
— the event an order system emits when an order's last line ships (or
at placement with the close arriving later as its own span row is NOT
supported: a span is one immutable fact, so per-day ±1 deltas are
additive and the store runs the cms/stats/pchart contract). Epoch
segments are REQUIRED (an epoch-less additive write has no safe
sentinel — a replayed backfill would double-add); reads dedup
(epoch, d) BEFORE summing so the mid-compaction double-read window
cannot double-count:

  micro-batch of spans
    → (epoch-day, n_opened, n_closed) per-batch deltas (map-side
      combine; each span contributes +1 on its open day and +1 closed
      on its close day)
    → one epoch segment

  read: dedup (epoch, d) → sum per day → the SAME backlog_from_daily
    close as the batch query (running depth + all-time peak flag), so
    the live curve bit-matches a batch sweep over the union of all
    delivered spans, whatever the batching (tested).

The ops story at 100 TB: the depth curve needs a GLOBAL running sum,
so a naive implementation rescans every open interval per refresh;
the folded ledger is |days| rows and the close is O(days) arithmetic
regardless of order volume.

Reference parity: none — extends the monitoring family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.analytics import order_spans
from open_pulsar_spark.streaming.twins import Readout, total, twin

_EPOCH_DAY = "datediff(to_date({col}), date'1970-01-01')"


def _backlog_partial(spans: DataFrame) -> DataFrame:
    """spans → per-batch (epoch-day, opened, closed) deltas: the open
    and close sides aggregate separately then full-outer-merge on the
    day, all map-side combinable."""
    opened = spans.groupBy(
        F.expr(_EPOCH_DAY.format(col="open_day")).cast("bigint").alias("d")
    ).agg(F.count("*").cast("bigint").alias("n_opened"))
    closed = spans.groupBy(
        F.expr(_EPOCH_DAY.format(col="close_day")).cast("bigint").alias("d")
    ).agg(F.count("*").cast("bigint").alias("n_closed"))
    return (
        opened.join(closed, "d", "full")
        .select(
            "d",
            F.coalesce("n_opened", F.lit(0)).cast("bigint").alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).cast("bigint").alias("n_closed"),
        )
    )


def backlog_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live backlog curve from the stream-maintained ledger — the
    SAME backlog_from_daily close as the batch orders_backlog_depth,
    bit-matched over the union of all delivered spans."""
    from open_pulsar_spark.operators.analytics import backlog_from_daily

    daily = BACKLOG.read(spark, store_path).select(
        F.timestamp_seconds(F.col("d") * 86400).alias("day"),
        "n_opened",
        "n_closed",
    )
    return backlog_from_daily(spark, daily)


BACKLOG = twin(
    "backlog",
    partial=_backlog_partial,
    schema="d LONG, n_opened LONG, n_closed LONG",
    keys=["d"],
    fold=[total("n_opened"), total("n_closed")],
    additive=True,
    source=order_spans,
    readouts=[Readout(backlog_readout, "orders_backlog_depth")],
)
