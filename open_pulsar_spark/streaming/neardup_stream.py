"""Streaming near-duplicate filtering against a persisted corpus
index — the incremental form of dedup.dedup_minhash_lsh.

A 100 TB curation pipeline doesn't re-run batch LSH over the whole
corpus when new documents arrive; it keeps a SIGNATURE INDEX (the
per-doc band signatures + shingle-hash sketches, ~500 B/doc — the
compact artifact the batch operator already computes) and checks each
incoming micro-batch against it:

  batch of new docs
    → minhash signatures (the same Arrow kernel as batch dedup)
    → band equi-join against the index (candidates only)
    → exact-Jaccard verify on the hash sketches
    → survivors append to BOTH the output and the index

Dedup here is *against history AND within the batch* (a batch that
contains its own near-dups keeps the lowest doc_id — same
representative rule as dedup_clusters). The index grows by survivors
only, so a duplicate storm cannot bloat it.

State choice: the index lives as parquet segments managed by
streaming.segments (epoch-keyed, replay-safe, compactable), NOT in
the streaming state store — it is a JOIN-side dataset (queried by
band signature), orders of magnitude larger than keyed state should
be. foreachBatch is AT-LEAST-ONCE, so idempotence is structural:

  - every index/output write is an epoch segment (overwrite, no-op
    once committed);
  - index rows carry the epoch that wrote them, and the history join
    ignores ONLY the current epoch's own rows — a true replay finds
    its own rows and reproduces the same survivors, while a same-doc
    redelivery in a LATER epoch matches a different epoch's row and
    is correctly dropped as a duplicate;
  - same-id rows within one batch collapse deterministically before
    signatures (segments.collapse_same_id — max text wins).

At scale the index is a partitioned table bucketed on the band
signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import held
from open_pulsar_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    LSH_BANDS,
    LSH_ROWS,
    _minhash_sigs,
)
from open_pulsar_spark.streaming.segments import (
    append_tombstones,
    auto_compact,
    collapse_same_id,
    commit_survivors,
    committed_ids,
    compact_segments,
    exclude_tombstoned,
    read_segments,
    replay_exclusion,
    write_segment,
)

_INDEX_SCHEMA = "doc_id LONG, band INT, sig STRING, hs ARRAY<BIGINT>, epoch LONG"

_BACKFILL_EPOCH = -1  # epoch tag for caller-managed batch segments


def _bands_of(sigs: DataFrame) -> DataFrame:
    """(doc_id, m0..mk, hs) → exploded (doc_id, band, sig, hs)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                        ).alias("sig"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bs"),
        "hs",
    ).select("doc_id", "bs.band", "bs.sig", "hs")


def _near_dup_of(cand: DataFrame) -> DataFrame:
    """Candidate rows (doc_id, hs, idx_doc_id, idx_hs) → verified dups."""
    inter = F.size(F.array_intersect("hs", "idx_hs"))
    jacc = inter * F.lit(1.0) / (F.size("hs") + F.size("idx_hs") - inter)
    return cand.where(jacc >= JACCARD_THRESHOLD)


def read_index(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The signature index, or None when empty. Duplicate rows across
    segments (possible mid-compaction) are harmless — the candidate
    join dedups downstream. Tombstoned (right-to-be-forgotten) doc_ids
    are excluded HERE, at the single consumption point, so a purged
    document cannot match future batches even if a crash-window epoch
    replay rewrote its rows from source (the hazard a one-time rewrite
    cannot close — segments.append_tombstones)."""
    raw = read_segments(spark, index_path, _INDEX_SCHEMA)
    if raw is None:
        return None
    return exclude_tombstoned(spark, raw, index_path, "doc_id")


def filter_batch_against_index(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_path: str,
    epoch_id: int | None = None,
    max_band_collisions: int | None = None,
) -> DataFrame:
    """One micro-batch step: returns surviving docs (doc_id) and
    writes their band rows to the index. Pure function of (batch,
    index dir) — callable from foreachBatch or a batch backfill loop.

    Idempotent under replay when `epoch_id` is given (see module
    docstring). The returned survivors are READ BACK from the written
    index segment, so consuming them never re-executes the signature/
    join pipeline after the internal cache is released.

    `max_band_collisions` is the hot-bucket guard SCALE.md describes:
    an INDEX band signature shared by more than this many docs is
    excluded from candidate generation, bounding the join fan-out per
    batch doc at the cost of missing near-dups detectable only through
    a degenerate bucket (in practice: boilerplate/junk signatures —
    the content a quality filter drops anyway). Off (None) by default;
    at 100 TB set it to a high percentile of bucket sizes. The
    within-batch check is NOT capped — a batch is already bounded.
    """
    # committed epoch: the segment already holds this step's result —
    # skip the whole signature/join pipeline (crash-recovery replay)
    done = committed_ids(spark, index_path, epoch_id, _INDEX_SCHEMA, "doc_id")
    if done is not None:
        return done

    batch_docs = collapse_same_id(batch_docs)
    with held(_minhash_sigs(batch_docs), fill=True) as sigs:
        bands = _bands_of(sigs)

        index = read_index(spark, index_path)
        if index is not None and max_band_collisions is not None:
            # The cap must count what a CLEAN index would hold, or the
            # candidate set becomes replay-nondeterministic: (a) a replay
            # after compaction sees this epoch's own rows — excluded from
            # the count as they are from the join; (b) a crash between
            # compact-write and source-delete doubles every row — deduped
            # on (doc_id, band) before counting.
            count_basis = index.dropDuplicates(["doc_id", "band"])
            if epoch_id is not None:
                count_basis = count_basis.where(F.col("epoch") != epoch_id)
            hot = (
                count_basis.groupBy("band", "sig")
                .count()
                .where(F.col("count") > max_band_collisions)
                .select("band", "sig")
            )
            index = index.join(hot, ["band", "sig"], "left_anti")
        if index is not None:
            cand = bands.join(
                index.select(
                    "band",
                    "sig",
                    F.col("doc_id").alias("idx_doc_id"),
                    F.col("hs").alias("idx_hs"),
                    F.col("epoch").alias("idx_epoch"),
                ),
                ["band", "sig"],
            )
            if epoch_id is not None:
                # replay-after-compaction can still see this epoch's own
                # rows — see segments.replay_exclusion
                cand = cand.where(
                    replay_exclusion("doc_id", "idx_doc_id", "idx_epoch", epoch_id)
                )
            hist_cand = cand.select("doc_id", "hs", "idx_doc_id", "idx_hs").distinct()
            dup_vs_history = _near_dup_of(hist_cand).select("doc_id").distinct()
        else:
            dup_vs_history = spark.createDataFrame([], "doc_id LONG")

        # within-batch near-dups: keep the lowest doc_id of each pair
        a, b = bands.alias("a"), bands.alias("b")
        in_batch_cand = (
            a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")))
            .where(F.col("a.doc_id") > F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.col("a.hs").alias("hs"),
                F.col("b.doc_id").alias("idx_doc_id"),
                F.col("b.hs").alias("idx_hs"),
            )
            .distinct()
        )
        dup_in_batch = _near_dup_of(in_batch_cand).select("doc_id").distinct()

        dups = dup_vs_history.unionAll(dup_in_batch).distinct()
        survivors = sigs.select("doc_id").join(dups, "doc_id", "left_anti")

        # Docs too short to shingle (<3 tokens / null text) have no
        # signature and can never be near-dups under this definition, so
        # they PASS THROUGH as survivors rather than silently vanishing.
        # Their index row is a sentinel (band=-1, sig NULL): inert in every
        # candidate equi-join (NULL never equals), but read back with the
        # other survivor ids.
        short = batch_docs.select("doc_id").join(
            sigs.select("doc_id"), "doc_id", "left_anti"
        )
        survivor_rows = (
            bands.join(survivors, "doc_id")
            .select("doc_id", "band", "sig", "hs")
            .unionByName(
                short.select(
                    "doc_id",
                    F.lit(-1).cast("int").alias("band"),
                    F.lit(None).cast("string").alias("sig"),
                    F.array().cast("array<long>").alias("hs"),
                )
            )
            .withColumn(
                "epoch",
                F.lit(_BACKFILL_EPOCH if epoch_id is None else epoch_id).cast("long"),
            )
        )
        return commit_survivors(
            spark, survivor_rows, index_path, epoch_id, _INDEX_SCHEMA, "doc_id"
        )


def backfill_index(spark: SparkSession, docs: DataFrame, index_path: str) -> int:
    """Bootstrap the signature index from an existing corpus before the
    stream starts: the frame goes through the SAME filter as a stream
    micro-batch (so the seed corpus is itself deduped on the way in)
    and lands as one backfill segment. Returns surviving-doc count.

    Call it per corpus slice for a 100 TB seed — each call costs one
    batch-vs-index join, exactly like a micro-batch, so the bootstrap
    is the stream's own code path, not a second implementation.
    """
    return filter_batch_against_index(spark, docs, index_path).count()


def start_neardup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    compact_max_segments: int | None = 64,
):
    """Wire the incremental near-dup filter as a streaming query:
    docs(doc_id, text) stream → surviving doc_ids appended to out_path.

    Both sinks are epoch-keyed: a replayed epoch overwrites its own
    `epoch=<id>` subdir in out_path (reads of out_path see `epoch` as
    a partition column), so at-least-once foreachBatch delivery yields
    exactly-once *contents*.

    The index self-compacts: once it accretes `compact_max_segments`
    committed segments, the batch step merges them into one
    band-clustered segment (segments.auto_compact — crash-safe, no
    index-less window), keeping listing cost and scan-task sizes
    bounded over the stream's lifetime. None disables (compact_index
    becomes a caller-run OPTIMIZE job).
    """

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        survivors = filter_batch_against_index(
            spark, batch_df, index_path, epoch_id=epoch_id
        )
        write_segment(survivors, out_path, epoch_id)
        auto_compact(
            spark,
            index_path,
            _INDEX_SCHEMA,
            dedup_keys=["doc_id", "band"],
            cluster_cols=["band", "sig"],
            max_segments=compact_max_segments,
            id_col="doc_id",
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(step)
        .start()
    )


def compact_index(spark: SparkSession, index_path: str, target_files: int = 8) -> int:
    """Merge the signature-index segments into one bucket-clustered
    segment (crash-safe, no index-less window — see streaming.segments
    for the protocol). Returns the deduped row count.

    foreachBatch appends one segment per micro-batch, so a long-lived
    stream accretes small files (the classic streaming-sink problem) —
    listing cost grows linearly and the band join's scan tasks shrink
    below useful sizes. At 100 TB this is the nightly OPTIMIZE job,
    and the rewrite also re-clusters by band signature so the
    per-batch candidate join reads contiguous signature ranges.
    """
    return compact_segments(
        spark,
        index_path,
        _INDEX_SCHEMA,
        dedup_keys=["doc_id", "band"],
        cluster_cols=["band", "sig"],
        target_files=target_files,
        id_col="doc_id",
    )


def delete_from_index(
    spark: SparkSession, index_path: str, doc_ids, target_files: int = 8
) -> int:
    """DELETE PROPAGATION (right-to-be-forgotten): durably tombstone
    the given doc_ids, then rewrite the signature index without them —
    their band rows vanish from every future candidate join, so a
    re-submitted copy of a deleted document is admitted as new content
    (tested). `doc_ids` is a 1-column DataFrame or an iterable of ids.
    Returns surviving row count. The tombstone append comes FIRST:
    read_index anti-joins tombstones, so the purge holds even through
    the crash-replay window where an epoch replay recomputes purged
    rows from source; the physical rewrite (same crash-safe
    segment-swap protocol) is storage hygiene and fresh clustering."""
    append_tombstones(spark, index_path, doc_ids, "doc_id")
    # id_col alone makes the compaction fold in the FULL tombstone set
    return compact_segments(
        spark,
        index_path,
        _INDEX_SCHEMA,
        dedup_keys=["doc_id", "band"],
        cluster_cols=["band", "sig"],
        target_files=target_files,
        id_col="doc_id",
    )


def index_bucket_skew(spark: SparkSession, index_path: str) -> DataFrame:
    """Hot-bucket skew profile of the LIVE signature index — the
    batch lsh_bucket_skew_profile readout pointed at the streaming
    store, so the `max_band_collisions` cap (this module's guard) is
    set from a measured distribution of the index it actually prunes,
    not from offline guesswork. Counts (band, sig) bucket sizes on
    the CLEAN index view (dedup on (doc_id, band) — the same
    mid-compaction double-read safety the cap's own count basis uses)
    and closes with the shared dedup._bucket_profile, so batch and
    index profiles report identical columns."""
    from open_pulsar_spark.operators.dedup import _bucket_profile

    index = read_index(spark, index_path)
    if index is None:
        counts = spark.createDataFrame([], "cnt BIGINT")
    else:
        counts = (
            index.dropDuplicates(["doc_id", "band"])
            .groupBy("band", "sig")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .select("cnt")
        )
    return _bucket_profile(counts, "index_band")
