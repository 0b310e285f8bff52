"""Streaming trade-flow monitor — the (cust_nation, supp_nation)
revenue ledger folded per micro-batch, serving the 25×25 trade matrix
live (the batch nation_trade_matrix, kept current).

Per-flow counts and cents are ADDITIVE, so this store runs the
cms/stats/pchart contract: epoch segments are REQUIRED (an epoch-less
additive write has no safe sentinel — a replayed backfill would
double-add); reads dedup (epoch, cust_nation, supp_nation) BEFORE
summing so the mid-compaction double-read window cannot double-count:

  micro-batch of attributed flow lines
    → (pair, n, cents) per-batch sums (map-side combine)
    → one epoch segment

  read: dedup (epoch, pair) → sum per pair → the SAME
    trade_matrix_from_flows close as the batch query (row-share ppm
    window over the ≤625-cell frame), so the live matrix bit-matches
    a batch scan over the union of all delivered lines, whatever the
    batching (tested).

Input contract: ATTRIBUTED lines (cust_nation, supp_nation, cents) —
the nation attribution join runs upstream (operators/analytics.py
attributed_trade_lines is the batch-side producer), because a
micro-batch ledger fold must be a pure map-side aggregate.

The ops story at 100 TB: the matrix needs full-history totals, so a
naive implementation rescans the joined fact per refresh; the folded
ledger is ≤625 rows and the close is O(cells) integer arithmetic
regardless of line volume.

Reference parity: none — extends the monitoring family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.analytics import attributed_trade_lines
from open_pulsar_spark.streaming.twins import Readout, total, twin


def _trade_partial(lines: DataFrame) -> DataFrame:
    """attributed lines → per-batch (pair, n_lines, revenue_cents)
    sums."""
    return lines.groupBy("cust_nation", "supp_nation").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


def trade_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live trade matrix from the stream-maintained ledger — the
    SAME trade_matrix_from_flows close as the batch
    nation_trade_matrix, bit-matched over the union of all delivered
    lines."""
    from open_pulsar_spark.operators.analytics import (
        trade_matrix_from_flows,
    )

    return trade_matrix_from_flows(spark, TRADE.read(spark, store_path))


TRADE = twin(
    "trade",
    partial=_trade_partial,
    schema=(
        "cust_nation STRING, supp_nation STRING, n_lines LONG,"
        " revenue_cents LONG"
    ),
    keys=["cust_nation", "supp_nation"],
    fold=[total("n_lines"), total("revenue_cents")],
    additive=True,
    source=attributed_trade_lines,
    readouts=[Readout(trade_readout, "nation_trade_matrix")],
)
