"""Streaming Bloom-filter maintenance — per-source shingle membership
filters of an unbounded document stream, kept as OR-mergeable word
segments (the incremental form of operators.sketch.source_bloom_filter's
filter half).

Bitwise OR is idempotent, so this store shares the HLL registers'
strongest-in-family replay contract: a crash-replayed batch, a
duplicated epoch-less backfill, a mid-compaction double-read, even
folding the whole store into itself produce the same bits. Epoch
overwrite is kept for store-growth bounding only; correctness never
depends on it.

  micro-batch of (doc_id, source, text)
    → per-doc-distinct (source, shingle) rows → k-salted positions →
      per-batch (source, word, bits) OR-partials (the SAME
      source_shingles/bloom_rows producers as the batch query —
      ≤ |sources| × {words} rows leave the map side)
    → one epoch segment

  fold: bit_or per (source, word) across segments — BIT-IDENTICAL to
    the batch filter over the union of all delivered rows, whatever
    the batching (tested); a membership probe against the folded store
    is the batch query's probe.

Reference parity: none — extends the sketch family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.sketch import (
    BLOOM_K,
    BLOOM_WORD,
    _BLOOM_SLOT_SPARK,
    bloom_rows,
    source_shingles,
)
from open_pulsar_spark.streaming.twins import twin


def _bloom_partial(docs: DataFrame) -> DataFrame:
    """docs → per-batch (source, word, bits) OR-partials via the SAME
    shingle and filter producers as the batch query."""
    return bloom_rows(source_shingles(docs))


def bloom_membership(
    spark: SparkSession, store_path: str, items: list[str]
) -> DataFrame:
    """(source, t, may_contain) probes against the stream-maintained
    filters for a bounded item list — the CMS-estimate read shape. A
    bloom answers 'definitely not' or 'maybe': may_contain=false is
    authoritative, true carries the measured-FPR caveat the batch
    harness quantifies."""
    bloom = BLOOM.read(spark, store_path)
    probe = (
        spark.createDataFrame([(t,) for t in items], "t STRING")
        .select(
            "t",
            F.explode(F.array(*[F.lit(k) for k in range(BLOOM_K)])).alias("k"),
        )
        .select("t", F.expr(_BLOOM_SLOT_SPARK).alias("slot"))
        .select(
            "t",
            F.expr(f"slot div {BLOOM_WORD}").cast("int").alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(slot % {BLOOM_WORD} as int))"
            ).alias("m"),
        )
    )
    hits = (
        F.broadcast(probe)
        .join(bloom, "word")
        .where(F.expr("(bits & m) != 0"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("k_hits"))
    )
    sources = bloom.select("source").distinct()
    all_pairs = sources.crossJoin(
        F.broadcast(spark.createDataFrame([(t,) for t in items], "t STRING"))
    )
    return (
        all_pairs.join(hits, ["source", "t"], "left")
        .select(
            "source",
            "t",
            (F.coalesce("k_hits", F.lit(0)) == BLOOM_K).alias("may_contain"),
        )
        .orderBy("source", "t")
    )


# bits is a VALUE: compaction keeps every distinct row, so two backfill
# segments' different bit patterns for one (source, word) both survive
# for the OR re-fold (the hll-register rule)
BLOOM = twin(
    "bloom",
    partial=_bloom_partial,
    schema="source STRING, word INT, bits LONG",
    keys=["source", "word"],
    fold=["CAST(bit_or(bits) AS BIGINT) AS bits"],
    additive=False,
    source="documents",
    cluster=["source"],
)
