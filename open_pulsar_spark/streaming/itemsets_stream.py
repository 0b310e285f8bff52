"""Streaming frequent-itemset maintenance — the incremental form of
operators.analytics.event_type_itemsets, on the shared partial-segment
scaffold.

Why the partial is the ITEM ROW, not the itemset count: a basket is
(user, day), and a basket can SPAN micro-batches — t1 may arrive in
epoch 3 and t2 in epoch 7, and the batch query over the union counts
that pair. Any per-batch pair/triple generation would miss it, and any
per-batch support sum would double-count items redelivered across
epochs. The only batching-invariant partial is the per-batch DISTINCT
(user, d, t) projection — the same duplicate-tolerant-through-distinct
contract as the bottom-k stores (kmv_stream, posting_stream), where
the CMS/DQ stores are additive and the HLL store is max-idempotent:

  micro-batch of events
    → distinct (user_id, d, t) rows           (the map-side reduction:
      event streams repeat (user, day, type) heavily — the distinct
      collapses them to ≤ |users|·|types| rows per day per batch)
    → one epoch segment

  read: distinct across all segments (replay/compaction duplicates
    collapse) → the SAME itemset_supports_from computation the batch
    query runs — so the readout bit-matches event_type_itemsets over
    the union of all delivered rows, whatever the batching (tested).

Pair/triple generation therefore runs at READ time over the folded
basket frame. That is not a concession: level-k counting is a
basket-keyed join over the CURRENT basket contents — it cannot be
finalized before the basket stops growing, so the store keeps the
sufficient statistic (the basket contents, deduped) and the readout
derives the counts. Store growth is bounded by the TRUE distinct
(user, day, type) cardinality plus per-epoch duplicates that
compaction removes.

Reference parity: none — extends the analytics family (SURVEY §2.10)
into the streaming layer alongside hll/cusum/zonemap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, twin


def _items_partial(events: DataFrame) -> DataFrame:
    """events → the batch's distinct (user_id, d, t) basket-item rows
    (the SAME projection event_type_itemsets deduplicates, so the
    folded store is the batch query's input relation)."""
    return events.select(
        "user_id", F.to_date("ts").alias("d"), F.col("event_type").alias("t")
    ).distinct()


def itemset_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """(itemset, k, support, support_ppm) from the stream-maintained
    store — the SAME apriori computation as the batch query
    (itemset_supports_from), so the numbers agree bit-for-bit with
    event_type_itemsets over the union of all delivered rows."""
    from open_pulsar_spark.operators.analytics import itemset_supports_from

    return itemset_supports_from(
        ITEMSETS.read(spark, store_path), pin_ns="itemsets_stream"
    )


ITEMSETS = twin(
    "itemsets",
    partial=_items_partial,
    schema="user_id LONG, d DATE, t STRING",
    keys=["user_id", "d", "t"],
    fold=[],
    additive=False,
    source="events",
    readouts=[Readout(itemset_readout, "event_type_itemsets")],
    cluster=["d", "t"],
)
