"""Sinks (SURVEY §2.11): chunked reply sink and the date-partitioned
append-only audit log.

K1 (chunked sink): replies longer than the sink limit are split by
functions.chunking and written one row per chunk with [i/N] labels.
K3 (audit log): `[ts] STATUS | group > task` lines, truncated result,
partitioned by date — `partitionBy('log_date')` parquet append, the
scalable form of the reference's per-day logfile append
(agent-loop.sh:527-546).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_pulsar_spark.functions.chunking import CHUNK_LIMIT, chunk_text_udf

RESULT_TRUNCATE = 300  # audit-sink result clamp (reference :541)


def explode_chunks(replies: DataFrame, limit: int = CHUNK_LIMIT) -> DataFrame:
    """(…, reply) → one row per ≤limit-char chunk with chunk_idx/n_chunks.

    Usable inside foreachBatch for an external messaging sink, or as a
    plain transform ahead of any bounded-message writer.

    A NULL reply is delivered as one empty chunk rather than silently
    vanishing: chunk_text(None) is [] and posexplode drops empty-array
    rows, so without the coalesce a model returning None would make
    the whole message (chat_id, update_id and all) disappear at the
    sink with no trace.
    """
    chunks = chunk_text_udf(limit)(F.coalesce(F.col("reply"), F.lit("")))
    return (
        replies.withColumn("chunks", chunks)
        .select(
            "*",
            F.posexplode("chunks").alias("chunk_idx", "chunk"),
            F.size("chunks").alias("n_chunks"),
        )
        .drop("chunks", "reply")
    )


def audit_lines(state: DataFrame) -> DataFrame:
    """Task-state rows → audit-log lines + a date partition column.

    Input needs (finished_at: timestamp, status, grp, task, result).
    """
    line = F.concat(
        F.lit("["),
        F.date_format("finished_at", "yyyy-MM-dd HH:mm:ss"),
        F.lit("] "),
        F.upper("status"),
        F.lit(" | "),
        F.col("grp"),
        F.lit(" > "),
        F.col("task"),
        F.lit(" :: "),
        F.substring(F.regexp_replace(F.coalesce("result", F.lit("")), "\n", " "), 1, RESULT_TRUNCATE),
    )
    return state.select(
        F.date_format("finished_at", "yyyy-MM-dd").alias("log_date"),
        line.alias("line"),
    )


def write_audit(state: DataFrame, path: str) -> None:
    """Append audit lines, partitioned by day (batch form)."""
    audit_lines(state).write.mode("append").partitionBy("log_date").parquet(path)


def idempotent_epoch_sink(path: str):
    """foreachBatch writer with replay-safe semantics (the Spark
    mapping of the reference's per-attempt VCS isolation, SURVEY C6):
    each micro-batch lands in its own `epoch=<id>` partition with
    dynamic partition OVERWRITE, so a re-delivered epoch (failure
    replay) rewrites its partition instead of duplicating rows —
    effectively exactly-once output on top of at-least-once delivery.
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(path)
        )

    return write


def write_training_shards(docs: DataFrame, path: str, budget: int | None = None) -> None:
    """Materialize a document set as token-budget training shards:
    parquet partitioned by (lang, shard_id), one directory per shard,
    docs laid out contiguously by doc_id within each shard.

    The shard assignment is `curation.assign_shards` (exclusive prefix
    token offset div budget — deterministic and incrementally
    recomputable), so re-running on an appended corpus only writes NEW
    shard partitions. repartition on the partition columns before the
    write keeps it to one file per shard (the training-loader contract)
    instead of one file per (task × shard).
    """
    from open_pulsar_spark.operators.curation import SHARD_TOKEN_BUDGET, assign_shards

    assigned = assign_shards(docs, budget or SHARD_TOKEN_BUDGET)
    out = docs.join(assigned.select("doc_id", "shard_id"), "doc_id")
    (
        out.repartition("lang", "shard_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        # dynamic: only partitions present in THIS write are replaced —
        # static overwrite (the default) would truncate the whole shard
        # root first, breaking the incremental re-run contract above and
        # leaving a mid-write failure with no shards at all
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang", "shard_id")
        .parquet(path)
    )


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: dict | None = None,
    file_format: str = "parquet",
    mode: str = "append",
) -> dict:
    """Write `df` and return observed data-quality metrics from the
    SAME pass (Spark's Observation API) — no second scan.

    `metrics` maps name → aggregate Column (count/avg/null-rate/...);
    default: row count. The production pattern this encodes: a 100 TB
    curation sink wants "rows written, null-rate, mean quality" for
    its lineage record, and running a count()/agg() after the write
    would re-execute the whole producing plan — observe() piggybacks
    the aggregates onto the write job itself.
    """
    from pyspark.sql import Observation

    if metrics is None:
        metrics = {"n_rows": F.count(F.lit(1))}
    names = list(metrics)
    obs = Observation()
    observed = df.observe(obs, *[metrics[n].alias(n) for n in names])
    getattr(observed.write.mode(mode), file_format)(path)
    got = obs.get
    return {n: got[n] for n in names}
