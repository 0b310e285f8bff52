"""Streaming k-anonymity monitor — the per-quasi-identifier-tuple
class-size ledger, kept current as customer rows arrive, serving the
SAME release-risk audit as the batch customer_kanonymity_audit.

Equivalence-class sizes are ADDITIVE per QI tuple, so this store runs
the cms/stats contract verbatim: epoch segments are REQUIRED (an
epoch-less additive write has no safe sentinel — a replayed backfill
would double-add), reads dedup (epoch, quasi...) BEFORE summing so the
mid-compaction double-read window cannot double-count:

  micro-batch of customer rows
    → (c_nationkey, c_mktsegment, sz) per-batch class counts
      (map-side combine: batch volume collapses to ≤ |tuples-in-batch|
      rows)
    → one epoch segment

  read: dedup (epoch, quasi...) → sum per tuple → the SAME
    profiling.kanonymity_report over the folded class frame — so the
    live privacy monitor quotes the risk a batch audit over the union
    of all delivered rows would, whatever the batching (tested).

This completes the served privacy family: doc_pii_scrub screens
content, the RTBF tombstone machinery deletes, and this ledger watches
re-identification risk LIVE — a release gate can block the moment a
new ingest pushes risk_ppm over policy, instead of at the next batch
audit. At 100 TB the ledger is |distinct QI tuples| rows — tiny by
construction (generalized quasi-identifiers), far below the fact
volume that feeds it.

Reference parity: none — extends the profiling/privacy family
(SURVEY §2.10) into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.profiling import KANON_QUASI
from open_pulsar_spark.streaming.twins import Readout, total, twin


def _kanon_partial(customers: DataFrame) -> DataFrame:
    """customer rows → per-batch (quasi..., sz) class counts."""
    return customers.groupBy(*KANON_QUASI).agg(
        F.count("*").cast("bigint").alias("sz")
    )


def kanon_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The k-grid release-risk audit from the stream-maintained class
    ledger — the SAME profiling.kanonymity_report as the batch query,
    bit-matched over the union of all delivered rows."""
    from open_pulsar_spark.operators.profiling import kanonymity_report

    return kanonymity_report(spark, KANON.read(spark, store_path))


KANON = twin(
    "kanon",
    partial=_kanon_partial,
    schema="c_nationkey INT, c_mktsegment STRING, sz LONG",
    keys=KANON_QUASI,
    fold=[total("sz")],
    additive=True,
    source="customer",
    readouts=[Readout(kanon_readout, "customer_kanonymity_audit")],
)


# --------------------------------------------------------------------------
# l-diversity ledger — the SENSITIVE-CELL counts (quasi..., band, cnt),
# additive per cell exactly like the class sizes above, serving the
# batch customer_ldiversity_audit's homogeneity-attack readout live.
# k-anonymity watches class SIZE; this ledger watches class DIVERSITY —
# together they are the full release gate (a new ingest can push a
# class below l without changing any class below k).
# --------------------------------------------------------------------------
def _ldiv_partial(customers: DataFrame) -> DataFrame:
    """customer rows → per-batch (quasi..., band, cnt) sensitive-cell
    counts — the SAME banding expression as the batch query (imported
    constants, offset keeps the div operand non-negative)."""
    from open_pulsar_spark.operators.profiling import (
        LDIV_BAND_OFFSET,
        LDIV_BAND_WIDTH,
    )

    return customers.groupBy(
        *KANON_QUASI,
        F.expr(
            f"(cast(round(c_acctbal * 100) as bigint) + {LDIV_BAND_OFFSET})"
            f" div {LDIV_BAND_WIDTH}"
        )
        .cast("bigint")
        .alias("band"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))


def ldiv_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The l-grid homogeneity-risk audit from the stream-maintained
    sensitive-cell ledger — the SAME profiling.ldiversity_report as the
    batch query, bit-matched over the union of all delivered rows."""
    from open_pulsar_spark.operators.profiling import ldiversity_report

    return ldiversity_report(spark, LDIV.read(spark, store_path))


LDIV = twin(
    "ldiv",
    partial=_ldiv_partial,
    schema="c_nationkey INT, c_mktsegment STRING, band LONG, cnt LONG",
    keys=[*KANON_QUASI, "band"],
    fold=[total("cnt")],
    additive=True,
    source="customer",
    readouts=[Readout(ldiv_readout, "customer_ldiversity_audit")],
)
