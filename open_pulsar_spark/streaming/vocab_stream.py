"""Streaming vocabulary ledger — the corpus token-frequency table of
an unbounded document stream kept as ADDITIVE per-epoch partials, with
the Zipf rank-frequency fit computed at read time (the incremental
form of operators.text.corpus_zipf_fit).

Token counts are the textbook additive reduction: each micro-batch
reduces to its own (t, freq) partial map-side; the fold sums partials
per token; the read path runs the SAME zipf_fit_from_vocab used by
the batch query on the folded vocabulary — so a stream-maintained
corpus-health gauge and the batch query over the union of all
delivered rows are BIT-IDENTICAL (tested), whatever the batching.
The ledger generalizes: any vocabulary readout (OOV rate, keyness)
can fold from the same store.

Replay contract: additive partials (cms_stream's class, applied
verbatim) — epoch is REQUIRED, a replayed epoch is skipped by the
overwrite contract, and the fold dedups (epoch, t) before summing so
a mid-compaction double-read cannot double-add. Epoch-less backfills
are refused (no safe sentinel for additive folds).

Store size: ≤ |batch vocabulary| rows per epoch — sublinear in the
token volume (types, not tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from open_pulsar_spark.operators.text import (
    vocab_counts,
    zipf_fit_from_vocab,
)
from open_pulsar_spark.streaming.twins import Readout, total, twin


def zipf_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The 1-row Zipf fit from the stream-maintained vocabulary — the
    same zipf_fit_from_vocab as the batch query, so the readout
    (integer nano-log moments, identical ranking) agrees bit-for-bit
    with a batch run over the union of all delivered documents."""
    return zipf_fit_from_vocab(spark, VOCAB.read(spark, store_path))


# docs → per-batch (t, freq) counts: the SAME vocab_counts reduction
# as the batch query, so the fold bit-matches it
VOCAB = twin(
    "vocab",
    partial=vocab_counts,
    schema="t STRING, freq LONG",
    keys=["t"],
    fold=[total("freq")],
    additive=True,
    source="documents",
    readouts=[Readout(zipf_readout, "corpus_zipf_fit")],
)
