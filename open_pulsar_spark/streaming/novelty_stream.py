"""Streaming corpus-order novelty against a persisted first-seen
shingle index — the incremental form of text.doc_ngram_novelty.

The batch query's `first_use` aggregate (min doc_id per distinct
3-gram shingle) IS a corpus artifact: the global first-seen-shingle
index. A 100 TB pipeline doesn't recompute that aggregate per
snapshot; it maintains the index incrementally and scores each
incoming micro-batch against it — the same batch/stream pairing as
dedup.snapshot_incremental_dedup / neardup_stream:

  batch of new docs
    → distinct per-doc shingles, keyed by xxhash64 (the batch
      query's own shuffle key — 8 B, uniform)
    → anti-check against the index (seen shingles are not novel)
    → within-batch first-use: min doc_id owns a shingle both docs
      introduce (the batch query's corpus-order rule, applied to
      arrival order)
    → per-doc novelty rows to the output; newly-seen shingles
      append to the index

Replay contract (foreachBatch is AT-LEAST-ONCE): both sinks are
epoch-overwrite segments, and the index read EXCLUDES the current
epoch's own rows — a replayed epoch therefore recomputes exactly the
original result and overwrites identical content. There is no
committed-epoch short-circuit here (unlike neardup_stream): the step
writes TWO stores, and a crash between them would leave a
short-circuit reading one store's result while the other was never
written — recomputing is always correct and the batch is small.

At scale the index is one row per DISTINCT shingle in the corpus —
the same cardinality the batch query shuffles per run — clustered on
the hash key; each micro-batch costs one equi-join against it plus a
batch-local window, never a corpus rescan.

Reference anchor: extends SURVEY §2.10's LLM-data operators (the
reference engine has no streaming or corpus surface; file:line parity
is with doc_ngram_novelty's own oracle-verified semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import held
from open_pulsar_spark.streaming.segments import (
    auto_compact,
    collapse_same_id,
    read_segments,
    write_segment,
)

_INDEX_SCHEMA = "h LONG, first_doc LONG, epoch LONG"
_OUT_SCHEMA = "doc_id LONG, n_shingles LONG, n_novel LONG, novelty DOUBLE"

_BACKFILL_EPOCH = -1


def novelty_batch_step(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_path: str,
    out_path: str,
    epoch_id: int | None = None,
) -> DataFrame:
    """One micro-batch step: scores batch docs' novelty against the
    index, appends per-doc novelty rows to out_path and newly-seen
    shingles to index_path. Returns the novelty rows (read back from
    the written segment — the write is the materialization point).

    Pure function of (batch, index dir, epoch): callable from
    foreachBatch or a batch backfill loop. When batches arrive in
    ascending doc_id order over a corpus, the union of all outputs is
    bit-identical to doc_ngram_novelty over that corpus (tested).
    """
    from open_pulsar_spark.operators.dedup import _shingled_of

    batch_docs = collapse_same_id(batch_docs)
    # three consumers below — shingle once
    with held(
        _shingled_of(batch_docs)
        .select("doc_id", F.explode("sh").alias("t"))
        .select("doc_id", F.xxhash64("t").alias("h")),
        fill=False,
    ) as sh:
        idx = read_segments(spark, index_path, _INDEX_SCHEMA)
        if idx is not None and epoch_id is not None:
            # replay after compaction: this epoch's own rows may live inside
            # a compact segment — ignoring them reproduces the original run
            idx = idx.where(F.col("epoch") != F.lit(epoch_id))
        if idx is not None:
            # ONE shuffle of the index: anti join on h (anti never
            # multiplies rows, so mid-compaction duplicate h rows are
            # harmless and no distinct() pre-aggregate is needed)
            unseen = sh.join(idx, "h", "left_anti")
        else:
            unseen = sh

        batch_first = F.min("doc_id").over(Window.partitionBy("h"))
        # persist AFTER the index anti-join + window: both sink writes below
        # consume `novel`, and without this pin the dominant per-batch cost
        # (the full-index anti-join) would execute twice
        with held(
            unseen.withColumn("_novel", F.col("doc_id") == batch_first),
            fill=False,
        ) as novel:
            novel_counts = (
                novel.groupBy("doc_id")
                .agg(F.sum(F.when(F.col("_novel"), 1).otherwise(0)).alias("n_novel"))
            )
            out_rows = (
                sh.groupBy("doc_id")
                .agg(F.count("*").alias("n_shingles"))
                .join(novel_counts, "doc_id", "left")
                .select(
                    "doc_id",
                    "n_shingles",
                    F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
                    F.round(
                        F.coalesce("n_novel", F.lit(0)) * 1.0 / F.col("n_shingles"),
                        6,
                    ).alias("novelty"),
                )
            )
            new_index = (
                novel.groupBy("h")
                .agg(F.min("doc_id").alias("first_doc"))
                .withColumn(
                    "epoch",
                    F.lit(
                        _BACKFILL_EPOCH if epoch_id is None else epoch_id
                    ).cast("long"),
                )
            )
            seg = write_segment(out_rows, out_path, epoch_id)
            write_segment(new_index, index_path, epoch_id)
    return spark.read.schema(_OUT_SCHEMA).parquet(seg)


def backfill_novelty_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    out_path: str,
    slice_id: int,
) -> int:
    """Bootstrap the first-seen index from an existing corpus slice —
    the stream's own code path, one batch step per call. Returns the
    number of docs scored.

    `slice_id` is REQUIRED and must be unique per slice (0, 1, 2, …):
    each maps to a reserved negative epoch (-2, -3, …), so a rerun of
    the same slice overwrites its own segments instead of appending a
    duplicate batch segment — the backfill is as replay-idempotent as
    a streaming epoch. A defaulted id would silently collapse every
    call onto one committed epoch (write_segment skips committed
    segments), losing all slices after the first. Streaming epochs are
    non-negative and ad-hoc epoch-less steps tag {_BACKFILL_EPOCH}, so
    the three ranges cannot collide.
    """
    if slice_id < 0:
        raise ValueError(f"slice_id must be >= 0, got {slice_id}")
    return novelty_batch_step(
        spark, docs, index_path, out_path, epoch_id=-2 - slice_id
    ).count()


def start_novelty_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    compact_max_segments: int | None = 64,
):
    """Wire the incremental novelty scorer as a streaming query:
    docs(doc_id, text) stream → per-doc novelty rows appended to
    out_path, first-seen shingle index self-maintained (and
    self-compacted) under index_path."""

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        novelty_batch_step(
            spark, batch_df, index_path, out_path, epoch_id=epoch_id
        )
        auto_compact(
            spark,
            index_path,
            _INDEX_SCHEMA,
            dedup_keys=["h"],
            cluster_cols=["h"],
            max_segments=compact_max_segments,
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(step)
        .start()
    )
