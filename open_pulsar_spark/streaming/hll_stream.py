"""Streaming HyperLogLog maintenance — per-event-type distinct
user-day counts of an unbounded event stream, kept as register-max
partial segments (the incremental form of
operators.sketch.events_hll_distinct).

The register store is the strongest replay contract in the sketch
family: where the additive stores (cms_stream, dq_stream) need
epoch-overwrite to avoid double-adds and the bottom-k stores
(kmv_stream, posting_stream) are duplicate-tolerant through an
explicit distinct, the HLL fold is IDEMPOTENT outright — max of max.
A crash-replayed batch, a duplicated backfill, a mid-compaction
double-read, even folding the entire store into itself, produce the
same registers. Epoch-overwrite is still used (it bounds store growth
and keeps the shared scaffold's contract uniform) but correctness
never depends on it.

  micro-batch of events
    → (event_type, user-day key) → per-batch register maxima
      (the SAME hll_partial kernel as the batch sketch — ≤ HLL_M rows
      per type per batch leave the map-side aggregate)
    → one epoch segment of (event_type, j, r) rows

  fold: max per (event_type, j) across all segments, then the shared
    integer fold/estimate — BIT-IDENTICAL to events_hll_distinct's
    sketch over the union of all delivered rows, whatever the
    batching (tested).

Store size: ≤ HLL_M × |types| rows per epoch; file-level compaction
via the shared scaffold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from open_pulsar_spark.operators.sketch import (
    _hll_user_day_key,
    hll_estimate_col,
    hll_fold,
    hll_partial,
)
from open_pulsar_spark.streaming.twins import Readout, twin


def _hll_stream_partial(events: DataFrame) -> DataFrame:
    """events → per-batch register maxima (the SAME key and kernel as
    the batch sketch, so the fold bit-matches it)."""
    return hll_partial(
        events.select("event_type", _hll_user_day_key().alias("key"))
    )


def hll_estimates(spark: SparkSession, store_path: str) -> DataFrame:
    """(event_type, hll_keys): distinct user-day estimates from the
    stream-maintained store — the same integer estimator as
    events_hll_distinct, so the numbers agree bit-for-bit with the
    batch sketch over the union of all delivered rows."""
    return (
        hll_fold(HLL.read(spark, store_path))
        .select("event_type", hll_estimate_col().alias("hll_keys"))
        .orderBy("event_type")
    )


# the fold is the batch sketch's hll_merge: max r per (event_type, j).
# Compaction keeps every distinct (event_type, j, r): epoch-less
# backfills share the -1 sentinel epoch, so two of them can hold
# DIFFERENT maxima for one register, and both must survive
HLL = twin(
    "hll",
    partial=_hll_stream_partial,
    schema="event_type STRING, j LONG, r INT",
    keys=["event_type", "j"],
    fold=["max(r) AS r"],
    additive=False,
    source="events",
    readouts=[
        Readout(
            hll_estimates,
            "events_hll_distinct",
            lambda df: df.select("event_type", "hll_keys").orderBy("event_type"),
        )
    ],
    cluster=["event_type"],
)
