"""Streaming optimizer-statistics maintenance — the per-key count
ledger behind join-cardinality estimation, kept current as events
arrive (the incremental form of profiling.join_size_estimate's
statistics side: streaming ANALYZE).

Per-key counts are ADDITIVE, so this store runs the cms/cusum/dq
contract: epoch segments are REQUIRED (an epoch-less additive write
has no safe sentinel — a replayed backfill would double-add), reads
dedup (epoch, key) BEFORE summing so the mid-compaction double-read
window cannot double-count:

  micro-batch of events
    → (user_id, n) per-batch counts (map-side combine: batch volume
      collapses to ≤ |keys-in-batch| rows)
    → one epoch segment

  read: dedup (epoch, user_id) → sum per key → the SAME
    join_size_report estimator math as the batch query — so the
    stream-maintained statistics price the self-join identically to a
    batch ANALYZE over the union of all delivered rows, whatever the
    batching (tested).

This is the statistics-freshness story at 100 TB: cardinality
estimates are only as good as the last ANALYZE, and a count ledger
folded per micro-batch keeps ndv/N/MCV current without rescanning
history. (ndv here is exact because the ledger is keyed; a
sketch-backed ndv would plug in the KMV/HLL stores.)

Reference parity: none — extends the profiling family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, total, twin


def _stats_partial(events: DataFrame) -> DataFrame:
    """events → per-batch (user_id, n) counts."""
    return events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n")
    )


def stats_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The graded join-size estimator table from the stream-maintained
    ledger — the SAME join_size_report as the batch query, bit-matched
    over the union of all delivered rows."""
    from open_pulsar_spark.operators.profiling import join_size_report

    return join_size_report(spark, STATS.read(spark, store_path))


def partition_plan_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """Range-partition plan from the SAME stream-maintained per-key
    count ledger the join-size estimator folds — one additive
    statistics store, two planning readouts (cardinality estimation
    AND range boundaries): runs the batch query's
    partition_plan_from_counts over the folded counts, so the numbers
    bit-match events_partition_plan over the union of all delivered
    rows."""
    from open_pulsar_spark.operators.skew import partition_plan_from_counts

    return partition_plan_from_counts(
        spark,
        STATS.read(spark, store_path).select(
            "user_id", F.col("n").alias("cnt")
        ),
    )


STATS = twin(
    "stats",
    partial=_stats_partial,
    schema="user_id LONG, n LONG",
    keys=["user_id"],
    fold=[total("n")],
    additive=True,
    source="events",
    readouts=[
        Readout(stats_readout, "join_size_estimate"),
        Readout(partition_plan_readout, "events_partition_plan"),
    ],
)
