"""Streaming SCD2 dimension maintenance — point-in-time order history
kept current as change rows arrive (the CDC/MERGE-INTO shape, the
incremental form of operators.analytics.order_history_scd2).

Why the store keeps CHANGE ROWS, not intervals: an SCD2 interval is a
function of the WHOLE per-key change set — a late-arriving version
re-opens its predecessor's window and closes its own — so intervals
"maintained" per batch would need in-place rewrites of earlier epochs
(the mutable-table MERGE the segment store deliberately avoids). The
batching-invariant sufficient statistic is the deduped change log
(the itemsets/sequences rule):

  micro-batch of order changes
    → distinct (o_custkey, o_orderkey, o_orderdate) rows, key-filtered
      at the door (the batch query's o_custkey bound) so the store is
      dimension-sized, never fact-sized
    → one epoch segment

  read: distinct across segments (replays, backfills and
    mid-compaction double-reads collapse — a change row is its own
    identity) → scd2_intervals, the DataFrame form of the batch
    query's interval assembly, so the readout bit-matches order_history_scd2 over the union of
    all delivered rows, whatever the batching — INCLUDING histories
    whose versions arrived across different epochs (tested).

At 100 TB: the change log is the dimension's natural size (versions,
not facts); interval assembly is one shuffle on the business key at
read time — the standard "merge on read" trade. A serving layer that
needs materialized intervals folds this store in a maintenance window
exactly like cms_stream.fold_grid.

Reference parity: none — extends §2.10's analytics family into the
streaming layer; the dimension-maintenance shape next to the sketch,
itemset and extremum twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, twin

SCD2_CUSTKEY_BOUND = 50  # the batch query's dimension bound


def _scd2_partial(orders: DataFrame) -> DataFrame:
    """order changes → the deduped key-bounded change rows (the batch
    query's input relation)."""
    return (
        orders.where(F.col("o_custkey") < SCD2_CUSTKEY_BOUND)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .distinct()
    )


def scd2_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The current SCD2 history — the batch query's interval assembly
    (scd2_intervals) over the folded change log; bit-matches
    order_history_scd2 over the union of all delivered rows."""
    from open_pulsar_spark.operators.analytics import scd2_intervals

    return scd2_intervals(SCD2.read(spark, store_path))


SCD2 = twin(
    "scd2",
    partial=_scd2_partial,
    schema="o_custkey LONG, o_orderkey LONG, o_orderdate TIMESTAMP",
    keys=["o_custkey", "o_orderkey", "o_orderdate"],
    fold=[],
    additive=False,
    source="orders",
    readouts=[Readout(scd2_readout, "order_history_scd2")],
    cluster=["o_custkey"],
)
