"""Streaming chunk-store maintenance — the content-addressable-store
ledger of an unbounded multimodal ingest, kept as additive epoch
partials (the incremental form of operators.multimodal.
multimodal_chunk_dedup).

A blob store ingesting media payloads at 100 TB wants "how much of
what arrived is byte-identical at chunk granularity" continuously —
the number that sizes the dedup store and decides whether snapshots
chunk-dedup — without re-scanning history:

  micro-batch of (doc_id, text, …) payload rows
    → with_binary_payload → fixed-offset chunk explode
    → per-(kind, xxhash64(chunk)) counts (multimodal.chunk_counts —
      the SAME producer as the batch query)
    → one epoch segment of (kind, h, cnt, blen) rows

  fold: dedup (epoch, kind, h) → sum cnt / max blen per (kind, h) →
    multimodal.chunk_stats — equals the batch query over the union of
    all delivered rows exactly, whatever the batching (tested).

Replay contract: ADDITIVE store (dq_stream/cms_stream's class): a
double-counted epoch would inflate cnt, so exactly-once rests on the
epoch-overwrite segment protocol (a replayed epoch overwrites its own
partial), reads dedup on (epoch, kind, h) first so the mid-compaction
duplicate window cannot double-count, and the epoch id is REQUIRED —
there is no -1 backfill sentinel; backfills reserve their own epochs.

Store size: ≤ distinct-chunks-per-batch rows per epoch (8-byte hash
keys, never the chunk bytes); compaction is file-level; same-(kind, h)
rows are deliberately NOT collapsed across epochs — rows keep their
epoch so the epoch-overwrite replay contract stays well-defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from open_pulsar_spark.operators.multimodal import chunk_counts, chunk_stats
from open_pulsar_spark.streaming.twins import Readout, total, twin


def chunk_dedup_stats(spark: SparkSession, store_path: str) -> DataFrame:
    """Per-kind dedup statistics from the stream-maintained store —
    the same chunk_stats expression as the batch query, so the numbers
    agree bit-for-bit with multimodal_chunk_dedup over the union of
    all delivered rows."""
    return chunk_stats(CHUNK.read(spark, store_path)).orderBy("kind")


# docs → per-(kind, chunk hash) counts: the SAME chunk_counts producer
# as the batch query
CHUNK = twin(
    "chunk",
    partial=chunk_counts,
    schema="kind STRING, h LONG, cnt LONG, blen INT",
    keys=["kind", "h"],
    fold=[total("cnt"), "max(blen) AS blen"],
    additive=True,
    source="documents",
    readouts=[Readout(chunk_dedup_stats, "multimodal_chunk_dedup")],
    cluster=["kind"],
)
