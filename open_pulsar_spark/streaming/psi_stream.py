"""Streaming PSI drift monitor — the live value-bin distribution of an
unbounded event stream kept as ADDITIVE per-epoch partials, scored at
read time against a FROZEN baseline distribution with the exact PSI
closing of operators.profiling.events_value_psi.

The batch query self-baselines (first time half vs second); a
production monitor freezes the baseline at deploy time and asks "has
the live distribution drifted from THAT". So this module maintains one
additive (bin, cnt) ledger for the live stream, snapshots a baseline
from any frame with freeze_baseline, and psi_readout runs the shared
psi_from_cells on (baseline × live ledger) — one closing computation,
so the monitor and the batch query cannot round or sum differently.

Replay contract: additive partials (cms_stream's class) — epoch is
REQUIRED, a replayed epoch is skipped by the overwrite contract, and
the fold dedups (epoch, bin) before summing. The baseline is a plain
one-shot parquet snapshot (no epochs — it is frozen by definition).

Store size: ≤ ~16 rows per epoch (power-of-two cent bins) — bounded by
the value range, not the event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.operators.profiling import (
    psi_from_cells,
    value_log_bin,
)
from open_pulsar_spark.streaming.twins import total, twin


def _bin_counts(events: DataFrame) -> DataFrame:
    """events → (bin, cnt) partial counts on the SHARED binning
    expression (profiling.value_log_bin), so ledger and batch query
    bucket identically."""
    return (
        events.select(value_log_bin(F.col("value")))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def freeze_baseline(
    spark: SparkSession, events: DataFrame, baseline_path: str
) -> None:
    """Snapshot a frame's value-bin distribution as THE baseline
    (overwrite — a baseline is re-frozen deliberately, never folded)."""
    _bin_counts(events).write.mode("overwrite").parquet(baseline_path)


def read_baseline(spark: SparkSession, baseline_path: str) -> DataFrame:
    return spark.read.schema("bin BIGINT, cnt LONG").parquet(baseline_path)


def psi_readout(
    spark: SparkSession, baseline_path: str, store_path: str
) -> DataFrame:
    """PSI of the live ledger against the frozen baseline — the same
    psi_from_cells closing as the batch query (nano-grid terms,
    order-independent integer total), so a monitor threshold tuned on
    batch numbers transfers unchanged."""
    base = read_baseline(spark, baseline_path).select(
        "bin", F.col("cnt").alias("n_base")
    )
    live = PSI.read(spark, store_path).select(
        "bin", F.col("cnt").alias("n_cur")
    )
    cell = base.join(live, "bin", "full").select(
        "bin",
        F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
    )
    return psi_from_cells(spark, cell)


# the live (bin, cnt) ledger; psi_readout needs a baseline path too, so
# it is not a registered readout (tools/verify_twins.py runs it apart)
PSI = twin(
    "psi",
    partial=_bin_counts,
    schema="bin BIGINT, cnt LONG",
    keys=["bin"],
    fold=[total("cnt")],
    additive=True,
    source="events",
)
