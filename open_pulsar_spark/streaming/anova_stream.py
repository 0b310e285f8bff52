"""Streaming weekday-effect monitor — the per-DAY revenue-cents ledger
folded per micro-batch, serving the one-way ANOVA readout live (the
batch revenue_dow_anova η² screen, kept current).

The observation unit of the ANOVA is a DAY's total cents, so the
additive sufficient statistic is NOT the 7-cell per-weekday moment
grid (Σx² of day totals needs each day COMPLETE before squaring — a
mid-day partial would square early); it is the per-day cent sum,
which IS additive across arbitrary batching. The ledger is therefore
the (day, cents) series — calendar-bounded, one row per delivered
day — and the weekday grouping + exact-integer moment close run at
read time on that grid:

  micro-batch of orders
    → (day, cents) per-batch sums (map-side combine)
    → one epoch segment

  read: dedup (epoch, day) → sum per day → the SAME
    dow_anova_from_daily close as the batch query (per-dow counts,
    totals, floored means, η²_ppm via the scaled exact-moment form),
    so the live weekday screen bit-matches a batch scan over the
    union of all delivered orders, whatever the batching (tested).

Replay contract: additive partials (cms/fano/risk/mk's class, applied
verbatim) — epoch is REQUIRED, a replayed epoch is skipped by the
overwrite contract, and the fold dedups (epoch, day) before summing so
a mid-compaction double-read cannot double-add. Epoch-less backfills
are refused (no safe sentinel for additive folds).

The ops story at 100 TB: η² needs every day's FULL total (squares
don't distribute over partial sums), so a naive refresh rescans the
fact; the folded ledger is |days| rows — calendar-bounded, volume-
independent — and the close's group frame is ≤ 7 rows whatever the
order volume.

Reference parity: none — extends the monitoring family (SURVEY §2.10)
into the streaming layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from open_pulsar_spark.operators.analytics import daily_revenue_cents
from open_pulsar_spark.streaming.twins import Readout, total, twin


def anova_readout(spark: SparkSession, store_path: str) -> DataFrame:
    """The live weekday-ANOVA readout from the stream-maintained
    ledger — the SAME dow_anova_from_daily close as the batch
    revenue_dow_anova, bit-matched over the union of all delivered
    orders."""
    from open_pulsar_spark.operators.analytics import dow_anova_from_daily

    return dow_anova_from_daily(spark, ANOVA.read(spark, store_path))


ANOVA = twin(
    "anova",
    partial=daily_revenue_cents,
    schema="day DATE, cents LONG",
    keys=["day"],
    fold=[total("cents")],
    additive=True,
    source="orders",
    readouts=[Readout(anova_readout, "revenue_dow_anova")],
)
