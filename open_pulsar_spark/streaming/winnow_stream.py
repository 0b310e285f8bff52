"""Streaming winnowing-fingerprint index — each document's MOSS
fingerprint set persisted as epoch-keyed segments, with the
local-overlap pair readout computed at read time (the incremental form
of operators.dedup.winnowing_overlap_pairs).

A doc's fingerprint set is a pure function of its text, so the fold is
IDEMPOTENT (the hll_stream class, not the additive one): the live
index is the (doc_id, h)-deduped union of all partials — replays and
mid-compaction double-reads collapse by dedup alone, no epoch-aware
arithmetic needed. What streams is the expensive part (the per-doc
gram/window selection); the pair join runs on the bounded fingerprint
frame at read time, so "which history does this new batch quote"
never re-fingerprints history.

Store size: ~2/(w+1) fingerprints per token of surviving docs
(≈2.4 B/token) — the positional analogue of the near-dup signature
index, with the same segment-store compaction story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.dedup import (
    WINNOW_MIN_SHARED,
    _winnow_fps_of,
)
from open_pulsar_spark.streaming.twins import Readout, twin


def _winnow_stream_partial(docs: DataFrame) -> DataFrame:
    """docs → per-batch distinct (doc_id, h) fingerprints (the SAME
    winnowing selection as the batch queries)."""
    return _winnow_fps_of(docs).select("doc_id", "h").distinct()


def overlap_pairs_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """Document pairs sharing ≥ WINNOW_MIN_SHARED fingerprints across
    the WHOLE indexed history — the same join and threshold as the
    batch winnowing_overlap_pairs, so the stream-maintained index and
    a batch scan over the union of all delivered docs produce the
    identical pair table (tested)."""
    fps = WINNOW.read(spark, store_path)
    a = fps.select(F.col("doc_id").alias("a_id"), "h")
    b = fps.select(F.col("doc_id").alias("b_id"), "h")
    return (
        a.join(b, "h")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.countDistinct("h").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("a_id", "b_id")
    )


def batch_overlaps_vs_history(
    spark: SparkSession, docs: DataFrame, store_path: str
) -> DataFrame:
    """Which docs of an UNINDEXED batch share ≥ WINNOW_MIN_SHARED
    fingerprints with any indexed document — the at-ingest quote/
    boilerplate screen (run before WINNOW.update to decide admission,
    or after for lineage tagging). One fingerprint pass over the batch
    + one hash equi-join against the index."""
    batch_fps = _winnow_stream_partial(docs)
    idx = WINNOW.read(spark, store_path)
    return (
        batch_fps.join(idx.select(F.col("doc_id").alias("hist_id"), "h"), "h")
        .where(F.col("doc_id") != F.col("hist_id"))
        .groupBy("doc_id", "hist_id")
        .agg(F.countDistinct("h").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("doc_id", "hist_id")
    )


WINNOW = twin(
    "winnow",
    partial=_winnow_stream_partial,
    schema="doc_id LONG, h LONG",
    keys=["doc_id", "h"],
    fold=[],
    additive=False,
    source="documents",
    readouts=[Readout(overlap_pairs_readout, "winnowing_overlap_pairs")],
    cluster=["h"],
)
