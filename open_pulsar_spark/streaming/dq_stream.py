"""Streaming data-quality ledger — per-rule violation counts of an
unbounded document stream, kept as additive epoch partials (the
incremental form of operators.profiling.dq_violation_counts' row-level
rule class).

A 100 TB ingest publishes its trust report continuously, not by
re-scanning history: each micro-batch contributes one row per rule
(violations + rows checked in THAT batch), and the serve-time fold is
a plain sum — additive, mergeable, O(#rules) per epoch.

  micro-batch of (doc_id, source, text, n_chars)
    → one conditional-sum aggregate (map-only partials, single row)
    → stack to (rule, n_violations, n_checked) → one epoch segment

Replay contract: like cms_stream (the other ADDITIVE store), the fold
is duplicate-SENSITIVE — a double-counted epoch would inflate the
ledger — so exactly-once rests on the epoch-overwrite segment
protocol (a replayed epoch overwrites its own partial, never
double-adds), and reads dedup on (epoch, rule) first so the
mid-compaction duplicate window cannot double-count either. Backfills
must carry their own reserved epoch ids (DQ.update requires an epoch;
there is no -1 sentinel here, unlike the duplicate-tolerant bottom-k
stores).

Rule scope: only rules that are ADDITIVE over batches belong here —
row-level predicates (ranges, null/derived-column consistency).
Cross-batch rules (uniqueness of doc_id over the whole history,
referential integrity against a mutable dimension) are NOT
batch-additive; they live in the batch suite or a keyed state store,
and this module deliberately excludes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, total, twin

# (rule name, violation predicate SQL) — additive row-level rules on
# the documents stream, names shared with the batch suite where the
# semantics coincide
DQ_STREAM_RULES = [
    ("documents_nchars_mismatch", "n_chars != length(text)"),
    ("documents_null_text", "text IS NULL"),
    ("documents_short_text", "n_chars < 50"),
]


def _dq_partial(docs: DataFrame) -> DataFrame:
    """One conditional-sum aggregate over the batch → one row → stack
    to (rule, n_violations, n_checked). Map-only partials; the single
    result row is the only thing shuffled."""
    aggs = [F.count("*").cast("bigint").alias("n")]
    for i, (_, pred) in enumerate(DQ_STREAM_RULES):
        aggs.append(
            F.sum(F.when(F.expr(pred), 1).otherwise(0))
            .cast("bigint")
            .alias(f"v{i}")
        )
    arms = ", ".join(
        f"'{name}', v{i}" for i, (name, _) in enumerate(DQ_STREAM_RULES)
    )
    return docs.agg(*aggs).select(
        F.expr(
            f"stack({len(DQ_STREAM_RULES)}, {arms}) as (rule, n_violations)"
        ),
        F.col("n").alias("n_checked"),
    )


def read_dq(spark: SparkSession, store_path: str) -> DataFrame:
    """The current ledger (rule, n_violations, n_checked), ordered by
    rule. Equals the batch aggregate over the union of all delivered
    rows, whatever the batching (tested)."""
    return DQ.read(spark, store_path).orderBy("rule")


DQ = twin(
    "dq",
    partial=_dq_partial,
    schema="rule STRING, n_violations LONG, n_checked LONG",
    keys=["rule"],
    fold=[total("n_violations"), total("n_checked")],
    additive=True,
    source="documents",
    readouts=[Readout(read_dq, None)],
)
