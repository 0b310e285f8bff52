"""Streaming CUSUM monitoring — the day-level revenue series of an
unbounded order stream kept as ADDITIVE per-epoch partials, with the
level-shift statistic computed at read time (the incremental form of
operators.analytics.revenue_cusum_changepoint).

The statistic itself (C_t = N·prefix_t − t·total) is a whole-series
artifact — every new day moves every C_t — so it is NOT maintained
incrementally; what streams is the reduction that makes it cheap: the
(day, cents) series. Per micro-batch, orders reduce to per-day integer
cent sums (one map-side-combinable aggregate, ≤ |days touched| rows
per epoch); the fold sums partials per day; the read path runs the
SAME cusum_series used by the batch query on the folded series — so a
stream-maintained monitor and the batch query over the union of all
delivered rows are BIT-IDENTICAL (tested), whatever the batching.

Replay contract: additive partials (cms_stream's class) — epoch is
REQUIRED, a replayed epoch is skipped by the overwrite contract, and
the fold dedups (epoch, day) before summing so a mid-compaction
double-read cannot double-add. Epoch-less backfills are refused (no
safe -1 sentinel for additive folds).

Store size: ≤ |days touched per batch| rows per epoch — bounded by
the calendar, not the order volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.analytics import (
    cusum_series,
    daily_revenue_cents,
)
from open_pulsar_spark.streaming.twins import Readout, total, twin


def cusum_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """(day, revenue_cents, cusum_scaled, is_changepoint) from the
    stream-maintained series — the same cusum_series as the batch
    query, so the readout agrees bit-for-bit with a batch run over
    the union of all delivered rows."""
    return cusum_series(CUSUM.read(spark, store_path))


def acf_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """Autocorrelation table from the SAME stream-maintained day
    ledger the CUSUM readout folds — one additive revenue store, two
    statistics readouts (the 'one ledger, many readouts' contract):
    runs the batch query's acf_from_daily over the folded series, so
    the numbers bit-match revenue_acf over the union of all delivered
    rows."""
    from open_pulsar_spark.operators.analytics import acf_from_daily

    return acf_from_daily(
        spark, CUSUM.read(spark, store_path), pin_ns="acf_stream"
    )


def ewma_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """Weekly EWMA table from the SAME stream-maintained day ledger —
    the third readout over the one additive revenue store (CUSUM, ACF,
    EWMA): weeks are exact-integer rollups of the folded days, so the
    shared ewma_from_daily bit-matches the batch revenue_ewma over the
    union of all delivered rows."""
    from open_pulsar_spark.operators.analytics import ewma_from_daily

    return ewma_from_daily(spark, CUSUM.read(spark, store_path))


def bootstrap_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """FOURTH readout of the same additive day-cents ledger: the
    Poisson-bootstrap 95% CI of mean daily revenue (shared
    bootstrap_ci_from_daily — the replicate weights hash the epoch
    day, so the folded ledger and a batch scan draw identical
    replicates), bit-matching the batch revenue_bootstrap_ci over the
    union of all delivered rows. One store: level (CUSUM), memory
    (ACF), trend (EWMA), and now uncertainty."""
    from open_pulsar_spark.operators.analytics import bootstrap_ci_from_daily

    return bootstrap_ci_from_daily(spark, CUSUM.read(spark, store_path))


def holt_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """Holt level+trend smoothing over the folded day-cents ledger
    (shared analytics.holt_from_daily), bit-matching the batch
    revenue_holt_forecast over the union of all delivered rows — the
    trend-aware companion to ewma_readout on the same store."""
    from open_pulsar_spark.operators.analytics import holt_from_daily

    return holt_from_daily(spark, CUSUM.read(spark, store_path))


def conformal_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """FIFTH readout of the same additive day-cents ledger: the
    split-conformal prediction-interval coverage table over the folded
    revenue series (shared analytics.conformal_from_daily — the batch
    query runs it on events daily values, this serves the orders
    ledger), bit-matching a batch recompute over the union of all
    delivered rows. One store: level (CUSUM), memory (ACF), trend
    (EWMA), uncertainty of the mean (bootstrap), and now uncertainty
    of the FORECAST — the live interval an ops dashboard quotes."""
    from open_pulsar_spark.operators.analytics import conformal_from_daily

    daily = CUSUM.read(spark, store_path).select(
        F.expr("datediff(day, date '1970-01-01')").cast("bigint").alias(
            "ed"
        ),
        "cents",
    )
    return conformal_from_daily(spark, daily, pin_ns="conformal_stream")


# orders → per-batch (day, cents) sums: the SAME daily_revenue_cents
# reduction as the batch queries, so the fold bit-matches them
CUSUM = twin(
    "cusum",
    partial=daily_revenue_cents,
    schema="day DATE, cents LONG",
    keys=["day"],
    fold=[total("cents")],
    additive=True,
    source="orders",
    readouts=[
        Readout(cusum_readout, "revenue_cusum_changepoint"),
        Readout(acf_readout, "revenue_acf"),
        Readout(ewma_readout, "revenue_ewma"),
        Readout(bootstrap_readout, "revenue_bootstrap_ci"),
        Readout(holt_readout, "revenue_holt_forecast"),
        Readout(conformal_readout, None),
    ],
)
