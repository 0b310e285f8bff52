"""Streaming conversion-lag monitor — the per-user first-view /
first-purchase ledger min-merged per micro-batch, serving the p50/p90/
max time-to-convert readout live (the batch conversion_lag_quantiles,
kept current).

min() is IDEMPOTENT under merge (min(a, a) = a), so this store runs
the hll/quantile-sample contract — the strongest replay story in the
family: replays, epoch-less backfills, and mid-compaction double-reads
all fold to the same per-user minima by construction. Epochs are still
stamped when provided (segment overwrite keeps committed batches
single-copy on disk), but correctness never depends on them:

  micro-batch of events
    → per-user conditional firsts (min ts of views, min ts of
      purchases — map-side combinable)
    → one segment

  read: min-merge per user across all segments → the SAME
    lag_quantiles_from_firsts close as the batch query (converter
    filter, prefix-scaffold ranks, Python order statistics), so the
    live readout bit-matches a batch scan over the union of all
    delivered events, whatever the batching (tested).

The ops story at 100 TB: first-touch lags need each user's earliest
events, so a naive implementation rescans the stream per refresh; the
min-ledger is user-cardinality (the dimension a funnel store already
carries), the fold is one map-side-combinable aggregate per refresh,
and the readout ranks converter lags on the range-partitioned prefix
scaffold — never a single-partition window.

Reference parity: none — extends the funnel/monitoring family
(SURVEY §2.10) into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, twin


def _lag_partial(events: DataFrame) -> DataFrame:
    """events → per-batch per-user conditional firsts (epoch seconds)
    — the same unix_timestamp grain as the batch query."""
    es = F.unix_timestamp("ts")
    return events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", es)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", es)).alias(
            "first_purchase"
        ),
    )


def lag_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live time-to-convert readout from the stream-maintained
    ledger — the SAME lag_quantiles_from_firsts close as the batch
    conversion_lag_quantiles, bit-matched over the union of all
    delivered events."""
    from open_pulsar_spark.operators.analytics import lag_quantiles_from_firsts

    return lag_quantiles_from_firsts(spark, LAG.read(spark, store_path))


LAG = twin(
    "lag",
    partial=_lag_partial,
    schema="user_id LONG, first_view LONG, first_purchase LONG",
    keys=["user_id"],
    fold=[
        "min(first_view) AS first_view",
        "min(first_purchase) AS first_purchase",
    ],
    additive=False,
    source="events",
    readouts=[Readout(lag_readout, "conversion_lag_quantiles")],
)
