"""Streaming sequential-pattern maintenance — the incremental form of
operators.analytics.event_type_sequences, kept as per-(user, type)
occurrence EXTREMA in a segment store.

The sequences query needs only FIRST(t1) and LAST(t2) per (user,
type) — and first/last under the total (ts, event_id) order are
MIN/MAX, which merge idempotently like the HLL registers: min of
mins, max of maxes, whatever the batching, replays included. So the
partial is tiny and the fold is the strongest replay contract in the
family:

  micro-batch of events
    → per-(user_id, event_type) min/max (ts, event_id)   (map-side
      reduction: per-batch event volume collapses to ≤ |users|·|types|
      extremum rows)
    → one epoch segment

  read: min/max re-fold across segments → the SAME first-before-last
    join as the batch query → supports bit-match
    event_type_sequences over the union of all delivered rows,
    whatever the batching (tested).

The (ts, event_id) pair is folded as two columns per side via the
struct min/max (Spark struct ordering is lexicographic), stored flat
so the segment schema stays primitive.

Reference parity: none — extends the analytics family (SURVEY §2.10)
into the streaming layer alongside hll/cusum/zonemap/itemsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, twin


def _extrema(rows: DataFrame, first: F.Column, last: F.Column) -> DataFrame:
    """Per-(user, type) min `first` / max `last` (ts, event_id)
    structs, stored flat."""
    return (
        rows.groupBy("user_id", "event_type")
        .agg(F.min(first).alias("f"), F.max(last).alias("l"))
        .select(
            "user_id",
            "event_type",
            F.col("f.ts").alias("f_ts"),
            F.col("f.event_id").alias("f_id"),
            F.col("l.ts").alias("l_ts"),
            F.col("l.event_id").alias("l_id"),
        )
    )


def _seq_partial(events: DataFrame) -> DataFrame:
    """events → per-batch (user, type) occurrence extrema under the
    total (ts, event_id) order — the exact quantities the batch
    query's first/last windows compute."""
    occ = F.struct("ts", "event_id")
    return _extrema(events, occ, occ)


def _refold(raw: DataFrame) -> DataFrame:
    """min/max re-fold of the stored extrema across segments."""
    return _extrema(
        raw,
        F.struct(F.col("f_ts").alias("ts"), F.col("f_id").alias("event_id")),
        F.struct(F.col("l_ts").alias("ts"), F.col("l_id").alias("event_id")),
    )


def sequence_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """(seq, support, support_ppm) from the stream-maintained store —
    the batch query's first-before-last join over the folded extrema,
    so the numbers agree bit-for-bit with event_type_sequences over
    the union of all delivered rows."""
    occ = SEQUENCES.read(spark, store_path)
    nu = occ.select("user_id").distinct().count()
    fst = occ.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.col("f_ts"),
        F.col("f_id"),
    )
    lst = occ.select(
        "user_id",
        F.col("event_type").alias("t2"),
        F.col("l_ts"),
        F.col("l_id"),
    )
    sup = (
        fst.join(lst, "user_id")
        .where(
            (F.col("f_ts") < F.col("l_ts"))
            | ((F.col("f_ts") == F.col("l_ts")) & (F.col("f_id") < F.col("l_id")))
        )
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    return sup.select(
        F.concat_ws("->", "t1", "t2").alias("seq"),
        "support",
        F.expr(f"(support * 1000000) div {max(nu, 1)}").alias("support_ppm"),
    ).orderBy(F.desc("support"), "seq")


# extrema are values, not identities: compaction keeps every distinct
# row, so two backfill segments' different extrema for one key both
# survive for the re-fold (the hll-register rule)
SEQUENCES = twin(
    "sequences",
    partial=_seq_partial,
    schema=(
        "user_id LONG, event_type STRING, "
        "f_ts TIMESTAMP, f_id LONG, l_ts TIMESTAMP, l_id LONG"
    ),
    keys=["user_id", "event_type"],
    fold=_refold,
    additive=False,
    source="events",
    readouts=[Readout(sequence_readout, "event_type_sequences")],
    cluster=["event_type"],
)
