"""Streaming distribution-drift monitor — the per-(source, doc-length)
count ledger folded per micro-batch, serving the pairwise two-sample
Kolmogorov–Smirnov matrix live (the batch source_length_ks_matrix,
kept current).

Per-(source, length) counts are ADDITIVE, so this store runs the
fano/risk/mk contract: epoch segments are REQUIRED (an epoch-less
additive write has no safe sentinel — a replayed backfill would
double-add); reads dedup (epoch, source, v) BEFORE summing so the
mid-compaction double-read window cannot double-count:

  micro-batch of documents
    → (source, n_chars, c) per-batch counts (map-side combine)
    → one epoch segment

  read: dedup (epoch, source, v) → sum per (source, v) → the SAME
    ks_matrix_from_counts close as the batch query (exact integer
    cross-multiplied ECDF gaps in decimal(38,0), ppm D statistic,
    pure-integer α = 0.05 significance), so the live drift matrix
    bit-matches a batch scan over the union of all delivered
    documents, whatever the batching (tested).

The ops story at 100 TB: an ECDF needs each source's FULL length
distribution, so a naive implementation rescans the corpus per
refresh; the folded ledger is |sources| × |distinct lengths| rows
(content-bounded — the length range saturates) and the close's pair
join runs on that grid regardless of corpus volume.

Reference parity: none — extends the monitoring family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, total, twin


def _ks_partial(docs: DataFrame) -> DataFrame:
    """documents → per-batch (source, n_chars, count) grid cells —
    the same length grain as the batch query."""
    return docs.groupBy(
        "source", F.col("n_chars").cast("bigint").alias("v")
    ).agg(F.count("*").cast("bigint").alias("c"))


def ks_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live pairwise-KS drift matrix from the stream-maintained
    ledger — the SAME ks_matrix_from_counts close as the batch
    source_length_ks_matrix, bit-matched over the union of all
    delivered documents."""
    from open_pulsar_spark.operators.profiling import ks_matrix_from_counts

    return ks_matrix_from_counts(
        spark, KS.read(spark, store_path), "ks_stream_cnt"
    )


KS = twin(
    "ks",
    partial=_ks_partial,
    schema="source STRING, v LONG, c LONG",
    keys=["source", "v"],
    fold=[total("c")],
    additive=True,
    source="documents",
    readouts=[Readout(ks_readout, "source_length_ks_matrix")],
)
