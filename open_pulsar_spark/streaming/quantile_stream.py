"""Streaming quantile-sketch maintenance — the incremental form of
operators.sketch.value_quantile_sketch's estimate half, kept as
mergeable bottom-k sample segments.

Completes the sketch family's streaming coverage (KMV: distincts,
CMS: frequencies, HLL: registers — quantiles were the gap). The
bottom-k-by-hash sample has the KMV merge property: the bottom-k of a
union is the bottom-k of the per-segment bottom-ks, and the fold is
duplicate-TOLERANT (a replayed row is the identical (hk, event_id,
value) triple; dropDuplicates collapses it before the take), so
replays, backfills, and mid-compaction double-reads cannot move an
estimate:

  micro-batch of events
    → bottom-{k} (hk, event_id, value) rows (the SAME quantile_sample
      helper as the batch query — TakeOrderedAndProject, ≤ k rows per
      batch leave the map side)
    → one epoch segment

  read: distinct union of all segments → bottom-k again → the SAME
    quantile_est_from_sample nearest-rank picks — so the stream
    estimates bit-match value_quantile_sketch's `est` column over the
    union of all delivered rows, whatever the batching (tested). The
    batch query's exact/abs_err harness half needs full history by
    definition and stays batch-only.

Reference parity: none — extends the sketch family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from open_pulsar_spark.operators.sketch import (
    SAMPLE_K,
    quantile_est_from_sample,
    quantile_sample,
)
from open_pulsar_spark.streaming.twins import Readout, twin


def _merged_sample(raw: DataFrame) -> DataFrame:
    """The bottom-{SAMPLE_K} sample of the distinct union of every
    segment's rows — exactly the batch sample of the union of all
    delivered rows."""
    return (
        raw.select("value", "event_id", "hk")
        .dropDuplicates(["event_id"])
        .orderBy("hk", "event_id")
        .limit(SAMPLE_K)
    )


def quantile_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """(p, est) from the stream-maintained sample — the same
    nearest-rank picks as the batch query's estimate half."""
    return quantile_est_from_sample(QUANTILE.read(spark, store_path)).orderBy("p")


# events → the batch's bottom-{SAMPLE_K} sample rows (the shared
# quantile_sample helper, so stream and batch cannot sample differently)
QUANTILE = twin(
    "quantile",
    partial=quantile_sample,
    schema="value DOUBLE, event_id LONG, hk STRING",
    keys=["event_id"],
    fold=_merged_sample,
    additive=False,
    source="events",
    readouts=[
        Readout(
            quantile_readout,
            "value_quantile_sketch",
            lambda df: df.select("p", "est").orderBy("p"),
        )
    ],
    cluster=["hk"],
)
