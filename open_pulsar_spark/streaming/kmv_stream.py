"""Streaming KMV maintenance — the per-source distinct-count sketch of
an unbounded document stream, kept as mergeable bottom-k partial
segments (the incremental form of operators.sketch.source_kmv_distinct).

A 100 TB ingest wants "how many distinct tokens has each source shipped
so far" answerable without re-scanning history. The KMV sketch is the
right store because its merge is the IDEMPOTENT bottom-k of a union:

  micro-batch of (doc_id, source, text)
    → tokens → per-(source, Arrow batch) bottom-k hash partial
      (the SAME _bottom_k_kernel as the batch sketch — truncation
      inside the map task, ≤ k rows per source per batch)
    → one epoch segment of (source, u) rows

  fold: bottom-k of the distinct union of all segment rows per source
    == the batch sketch of the union of all batches' rows, exactly —
    so a stream-maintained estimate and source_kmv_distinct's estimate
    over the same rows are BIT-IDENTICAL (tested), whatever the
    batching.

Replay contract: epoch-overwrite segments (write_segment skips a
committed epoch) give exactly-once partials under at-least-once
foreachBatch; and unlike the additive stores (cms_stream's counts,
drift_stream's sums) the fold itself is duplicate-TOLERANT —
array_distinct before the slice means a crash-duplicated row, a
mid-compaction double-read, or even a repeated ad-hoc backfill cannot
change the result. Backfills therefore need no reserved epoch range;
`None` writes a uniquely-named batch segment and correctness is
unaffected (idempotent only in value, not in storage — reruns append
redundant rows until compaction dedups them).

The store holds ≤ k × |sources| rows per epoch; compaction is
file-level (rows keep epochs so mid-compaction duplicate reads stay
harmless — harmless here even without the dedup, by the same
tolerance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.sketch import (
    _kmv_estimate_col,
    _kmv_merge,
    _kmv_partial,
)
from open_pulsar_spark.streaming.twins import Readout, twin


def _kmv_stream_partial(docs: DataFrame) -> DataFrame:
    """tokens → per-batch bottom-k hash rows per source (the SAME
    tokenizer and kernel as source_kmv_distinct, so the fold
    bit-matches the batch sketch)."""
    tokens = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    return _kmv_partial(tokens)


def kmv_estimates(spark: SparkSession, store_path: str) -> DataFrame:
    """(source, n_est): the distinct-count estimates from the stream-
    maintained store — the same estimator expression as
    source_kmv_distinct, so the numbers agree bit-for-bit with a batch
    run over the union of all delivered rows."""
    return (
        KMV.read(spark, store_path)
        .select("source", _kmv_estimate_col(F.col("mins")).alias("n_est"))
        .orderBy("source")
    )


# the fold is the batch sketch's merge: (source, mins), the bottom-k of
# the distinct union of every segment's rows
KMV = twin(
    "kmv",
    partial=_kmv_stream_partial,
    schema="source STRING, u DOUBLE",
    keys=["source"],
    fold=_kmv_merge,
    additive=False,
    source="documents",
    readouts=[
        Readout(
            kmv_estimates,
            "source_kmv_distinct",
            lambda df: df.select("source", "n_est").orderBy("source"),
        )
    ],
)
