"""Streaming embedding near-dup filtering against a persisted bucket
index — the EMBEDDING twin of neardup_stream (which covers text): the
incremental form of operators.similarity.dedup_embedding_lsh.

Arriving embedding micro-batches are sign-LSH bucket-tagged map-side
(the same hyperplanes as the batch operator, so batch backfill and the
stream agree on buckets), then checked for cosine near-duplicates

  - against HISTORY: an equi-join on the bucket id against the
    persisted index — candidates are same-bucket vectors only, never
    the whole corpus;
  - WITHIN the batch: same-bucket self-join, lowest vec_id survives.

Survivors append to the output and to the index. The index stores
UNIT-NORMALIZED doubles, so the verify is a plain dot product (one
`aggregate(zip_with(...))` JVM expression — no Python in the join).

Persistence/replay semantics come from streaming.segments (the same
protocol as the text stream): epoch-keyed replay-safe segments, index
rows tagged with their writing epoch so a true replay ignores only
its own rows while a later-epoch redelivery of the same vec_id is
dropped as a duplicate, and crash-safe compaction.

Scale: the index is ~8·d B/vector partitioned by bucket; each batch
shuffles once on the bucket id. A hot bucket is the skew unit — the
knob is N_PLANES (more planes → smaller buckets), same trade as the
batch operator.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import held
from open_pulsar_spark.streaming.segments import (
    append_tombstones,
    auto_compact,
    commit_survivors,
    committed_ids,
    compact_segments,
    exclude_tombstoned,
    read_segments,
    replay_exclusion,
    write_segment,
)

COS_DUP_THRESHOLD = 0.4  # same near-dup bar as dedup_embedding_cosine/_lsh

_EMB_INDEX_SCHEMA = "vec_id LONG, bucket LONG, emb ARRAY<DOUBLE>, epoch LONG"

_BACKFILL_EPOCH = -1

# dot of unit vectors == cosine; plain JVM expression, no UDF
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"


def _tag_batch(batch: DataFrame) -> DataFrame:
    """(vec_id, embedding) → (vec_id, bucket, emb) with emb unit-norm.

    Map-only Arrow pass; reuses the batch operator's hyperplanes so
    stream and backfill assign identical buckets.
    """
    from open_pulsar_spark.operators.similarity import _block_norm, _buckets_of

    def tag(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            _, raw, unit = _block_norm(pdf)
            # a zero vector has no direction: its unit form is NaN and
            # every cosine against it is NaN, which would silently
            # bypass BOTH dedup checks (NaN >= t is false) — including
            # cross-epoch redelivery of the same vec_id. Drop them at
            # the door; an upstream encoder emitting zeros is bad input,
            # not a new corpus vector.
            ok = np.isfinite(unit).all(axis=1)
            if not ok.any():
                continue
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64")[ok],
                    "bucket": _buckets_of(raw[ok]),
                    "emb": list(unit[ok]),
                }
            )

    return batch.select("vec_id", "embedding").mapInPandas(
        tag, "vec_id LONG, bucket LONG, emb ARRAY<DOUBLE>"
    )


def read_embedding_index(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The bucket index, tombstoned (right-to-be-forgotten) vec_ids
    excluded at this single consumption point — the purge holds even
    through the crash-replay window where an epoch replay recomputes
    purged rows from source (segments.append_tombstones)."""
    raw = read_segments(spark, index_path, _EMB_INDEX_SCHEMA)
    if raw is None:
        return None
    return exclude_tombstoned(spark, raw, index_path, "vec_id")


def filter_embeddings_against_index(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    epoch_id: int | None = None,
    threshold: float = COS_DUP_THRESHOLD,
) -> DataFrame:
    """One micro-batch step: survivors (vec_id) out, surviving tagged
    vectors appended to the bucket index. Idempotent under epoch
    replay; survivors are read back from the written segment so the
    caller's sink never recomputes the tag/join pipeline."""
    done = committed_ids(spark, index_path, epoch_id, _EMB_INDEX_SCHEMA, "vec_id")
    if done is not None:
        return done

    with held(_tag_batch(batch.dropDuplicates(["vec_id"])), fill=True) as tagged:
        cos_hist = F.expr(_DOT.format(a="emb", b="idx_emb"))
        index = read_embedding_index(spark, index_path)
        if index is not None:
            cand = tagged.join(
                index.select(
                    "bucket",
                    F.col("vec_id").alias("idx_vec_id"),
                    F.col("emb").alias("idx_emb"),
                    F.col("epoch").alias("idx_epoch"),
                ),
                "bucket",
            )
            if epoch_id is not None:
                # replay-after-compaction can still see this epoch's own
                # rows — see segments.replay_exclusion
                cand = cand.where(
                    replay_exclusion("vec_id", "idx_vec_id", "idx_epoch", epoch_id)
                )
            dup_vs_history = (
                cand.where(cos_hist >= threshold).select("vec_id").distinct()
            )
        else:
            dup_vs_history = spark.createDataFrame([], "vec_id LONG")

        a, b = tagged.alias("a"), tagged.alias("b")
        cos_batch = F.expr(_DOT.format(a="a.emb", b="b.emb"))
        dup_in_batch = (
            a.join(b, F.col("a.bucket") == F.col("b.bucket"))
            .where(F.col("a.vec_id") > F.col("b.vec_id"))
            .where(cos_batch >= threshold)
            .select(F.col("a.vec_id").alias("vec_id"))
            .distinct()
        )

        dups = dup_vs_history.unionAll(dup_in_batch).distinct()
        survivors = tagged.select("vec_id").join(dups, "vec_id", "left_anti")

        return commit_survivors(
            spark,
            tagged.join(survivors, "vec_id")
            .select("vec_id", "bucket", "emb")
            .withColumn(
                "epoch",
                F.lit(_BACKFILL_EPOCH if epoch_id is None else epoch_id).cast("long"),
            ),
            index_path,
            epoch_id,
            _EMB_INDEX_SCHEMA,
            "vec_id",
        )


def start_embedding_dedup_stream(
    spark: SparkSession,
    emb_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    compact_max_segments: int | None = 64,
):
    """embeddings(vec_id, embedding) stream → surviving vec_ids in
    epoch-keyed segments under out_path (epoch is a partition column
    on read).

    The index self-compacts at `compact_max_segments` committed
    segments (segments.auto_compact; None disables) — same bounded
    segment-count contract as start_neardup_stream."""

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        survivors = filter_embeddings_against_index(
            spark, batch_df, index_path, epoch_id=epoch_id
        )
        write_segment(survivors, out_path, epoch_id)
        auto_compact(
            spark,
            index_path,
            _EMB_INDEX_SCHEMA,
            dedup_keys=["vec_id"],
            cluster_cols=["bucket", "vec_id"],
            max_segments=compact_max_segments,
            id_col="vec_id",
        )

    return (
        emb_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(step)
        .start()
    )


def compact_embedding_index(
    spark: SparkSession, index_path: str, target_files: int = 8
) -> int:
    """Merge the per-epoch segments into one bucket-clustered segment
    (crash-safe, no index-less window — streaming.segments protocol).
    Returns the deduped row count. Tombstoned vec_ids are scrubbed as
    part of the rewrite (id_col → auto tombstone fold)."""
    return compact_segments(
        spark,
        index_path,
        _EMB_INDEX_SCHEMA,
        dedup_keys=["vec_id"],
        cluster_cols=["bucket", "vec_id"],
        target_files=target_files,
        id_col="vec_id",
    )


def delete_from_embedding_index(
    spark: SparkSession, index_path: str, vec_ids, target_files: int = 8
) -> int:
    """Delete propagation for the embedding index — the vector twin of
    neardup_stream.delete_from_index: durable tombstones first (so the
    purge holds through the crash-replay window — read_embedding_index
    anti-joins them), then the crash-safe compaction-swap rewrite;
    deleted vectors stop matching future batches."""
    append_tombstones(spark, index_path, vec_ids, "vec_id")
    # id_col alone makes the compaction fold in the FULL tombstone set
    return compact_segments(
        spark,
        index_path,
        _EMB_INDEX_SCHEMA,
        dedup_keys=["vec_id"],
        cluster_cols=["bucket", "vec_id"],
        target_files=target_files,
        id_col="vec_id",
    )


def embedding_index_bucket_skew(
    spark: SparkSession, index_path: str
) -> DataFrame:
    """Hot-bucket skew profile of the LIVE embedding bucket index —
    the sign-bucket row of the batch lsh_bucket_skew_profile pointed
    at the streaming store. The per-bucket candidate mass here prices
    the per-batch join fan-out (each arriving vector scores against
    its bucket's index rows) and tells you when to raise N_PLANES or
    switch the bucket's kernel to the blocked all-pairs path
    (similarity._embedding_pairs_blocked). Dedups (vec_id) first —
    mid-compaction double-read safety — then closes with the shared
    dedup._bucket_profile so batch and index profiles report
    identical columns."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.dedup import _bucket_profile

    index = read_embedding_index(spark, index_path)
    if index is None:
        counts = spark.createDataFrame([], "cnt BIGINT")
    else:
        counts = (
            index.dropDuplicates(["vec_id"])
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .select("cnt")
        )
    return _bucket_profile(counts, "index_sign_bucket")
