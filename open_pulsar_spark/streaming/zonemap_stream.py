"""Streaming zone-map maintenance — per-Z-bucket (count, min, max)
statistics of an unbounded event stream, kept as per-epoch partial
segments (the ingest-side half of the layout story:
analytics.layout_skipping_effectiveness PRICES pruning on a finished
layout; this store is how a lakehouse writer keeps the zone maps
current while data lands).

Contract note — this store MIXES the two partial classes the engine's
streams established:
  - n_events is ADDITIVE (cms_stream's class): epoch REQUIRED, the
    fold dedups (epoch, zbucket) before summing, replays overwrite;
  - z_min / z_max are IDEMPOTENT (hll_stream's class): min/max of
    min/max, duplicate-proof by construction.
The fold applies the strict contract (the additive one) to the whole
row — one dedup pass protects both halves, and the idempotent columns
simply don't need it. Batch parity: the folded store equals the same
aggregate computed one-shot over the union of all delivered rows
(tested), which is events_zorder_layout's bucket frame minus its
non-mergeable n_users column (distinct counts don't fold; the HLL
register store is the engine's mergeable answer to that).

Store size: ≤ |buckets touched per batch| rows per epoch — bounded by
the 16-bit bucket space, not the event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.analytics import _z_col
from open_pulsar_spark.streaming.twins import Readout, total, twin


def _zonemap_partial(events: DataFrame) -> DataFrame:
    """events → per-batch bucket statistics (the SAME Morton key as
    events_zorder_layout, so batch and stream bucket identically)."""
    return (
        events.select(_z_col().alias("z"))
        .groupBy(F.shiftright("z", 16).cast("long").alias("zbucket"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("z").cast("long").alias("z_min"),
            F.max("z").cast("long").alias("z_max"),
        )
    )


def zonemap_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The folded zone maps (zbucket, n_events, z_min, z_max) in bucket
    order — events_zorder_layout's bucket frame without n_users."""
    return ZONEMAP.read(spark, store_path).orderBy("zbucket")


# n_events is additive, so the whole row takes the additive contract
# (module docstring); the envelopes fold by min/max
ZONEMAP = twin(
    "zonemap",
    partial=_zonemap_partial,
    schema="zbucket LONG, n_events LONG, z_min LONG, z_max LONG",
    keys=["zbucket"],
    fold=[total("n_events"), "min(z_min) AS z_min", "max(z_max) AS z_max"],
    additive=True,
    source="events",
    readouts=[
        Readout(
            zonemap_readout,
            "events_zorder_layout",
            lambda df: df.select(
                "zbucket", "n_events", "z_min", "z_max"
            ).orderBy("zbucket"),
        )
    ],
)
