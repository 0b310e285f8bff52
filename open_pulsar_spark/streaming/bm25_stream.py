"""Streaming BM25 index maintenance — the per-(doc, term) frequency
ledger behind sparse retrieval, kept current as document text arrives
(the incremental form of bm25_topk's index side: df, dl and tf all
fold from one additive store).

Term frequencies are ADDITIVE per (doc_id, term) — a document's chunks
delivered across micro-batches sum to the same tf a whole-document
tokenize produces — so this store runs the cms/stats/kanon contract:
epoch segments are REQUIRED (an epoch-less additive write has no safe
sentinel — a replayed backfill would double-add), reads dedup
(epoch, doc_id, term) BEFORE summing so the mid-compaction double-read
window cannot double-count:

  micro-batch of (doc_id, text)
    → tokenize → (doc_id, t, tf) per-batch counts (map-side combine)
    → one epoch segment

  read: dedup (epoch, doc_id, t) → sum per (doc_id, t) → the SAME
    text.bm25_from_tf scoring as the batch query — so the
    stream-maintained index ranks retrieval identically to a batch
    rebuild over the union of all delivered text, whatever the
    batching (tested).

This is the search-freshness story at 100 TB: a production sparse
index is never rebuilt from scratch per document — postings fold in
as text lands, and df/dl/avgdl (the BM25 statistics) fold from the
same rows. The ledger is |distinct (doc, term)| rows — the inverted
index itself, the thing you were going to store anyway.

Reference parity: none — extends the text/retrieval family
(SURVEY §2.10) into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.streaming.twins import Readout, total, twin


def _tf_partial(docs: DataFrame) -> DataFrame:
    """(doc_id, text) rows → per-batch (doc_id, t, tf) counts."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def bm25_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """BM25 top-k retrieval from the stream-maintained index — the
    SAME text.bm25_from_tf as the batch query, bit-matched over the
    union of all delivered text."""
    from open_pulsar_spark.operators.text import bm25_from_tf

    return bm25_from_tf(spark, BM25.read(spark, store_path))


BM25 = twin(
    "bm25",
    partial=_tf_partial,
    schema="doc_id LONG, t STRING, tf LONG",
    keys=["doc_id", "t"],
    fold=[total("tf")],
    additive=True,
    source="documents",
    readouts=[Readout(bm25_readout, "bm25_topk")],
    cluster=["t"],
)
