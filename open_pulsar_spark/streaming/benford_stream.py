"""Streaming Benford monitoring — the first-significant-digit profile
of an unbounded order stream kept as ADDITIVE per-epoch partials, with
the χ² conformance report computed at read time (the incremental form
of operators.analytics.orders_benford_test).

Per-digit counts are the textbook additive reduction: each micro-batch
reduces to ≤ 10 (digit, n_obs) rows map-side; the fold sums partials
per digit; the read path runs the SAME benford_report used by the
batch query on the folded counts — so a stream-maintained fraud/DQ
screen and the batch query over the union of all delivered rows are
BIT-IDENTICAL (tested), whatever the batching.

Replay contract: additive partials (cms_stream's class, applied
verbatim) — epoch is REQUIRED, a replayed epoch is skipped by the
overwrite contract, and the fold dedups (epoch, digit) before summing
so a mid-compaction double-read cannot double-add. Epoch-less
backfills are refused (no safe sentinel for additive folds).

Store size: ≤ 10 rows per epoch — bounded by the digit alphabet, not
the order volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from open_pulsar_spark.operators.analytics import (
    benford_digit_counts,
    benford_report,
)
from open_pulsar_spark.streaming.twins import Readout, total, twin


def benford_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The 9-row Benford conformance table from the stream-maintained
    digit ledger — the same benford_report as the batch query, so the
    readout (including the order-independent micro-unit χ² total)
    agrees bit-for-bit with a batch run over the union of all
    delivered rows."""
    return benford_report(spark, BENFORD.read(spark, store_path))


# orders → per-batch (digit, n_obs) counts: the SAME reduction as the
# batch query, so the fold bit-matches it
BENFORD = twin(
    "benford",
    partial=benford_digit_counts,
    schema="digit INT, n_obs LONG",
    keys=["digit"],
    fold=[total("n_obs")],
    additive=True,
    source="orders",
    readouts=[Readout(benford_readout, "orders_benford_test")],
)
