"""Distributed prefix rank / running sums over a TOTAL order.

Spark's bare ``sum().over(Window.orderBy(...))`` (no partitionBy) is
the classic silent scale killer: the whole dataset funnels through ONE
partition. This helper is the engine's one implementation of the
standard fix, shared by revenue_pareto, events_peak_concurrency and
quality_llm_calibration (each used to hand-roll it); the associative-
max twin `exclusive_prefix_max` below serves part_price_size_skyline:

  1. range-partition on the sort key — each partition holds a
     contiguous rank range;
  2. per-partition counts/sums → driver (≤ `parts` rows) → exclusive
     offsets per partition;
  3. row_number / running sums WITHIN each partition (parallel
     windows, partitioned by partition id) + the broadcast offsets =
     exact global rank and prefix sums.

Partition boundaries come from range-sampling and vary run to run,
but rank and prefix sums over a TOTAL order are partition-invariant,
so results are bit-identical to the single-window statement whenever
the ordering is total (callers must include a tiebreaker column) and
the summed columns are integral.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import held


@contextmanager
def _ranged_offsets(
    spark: SparkSession,
    df: DataFrame,
    cols: Sequence[Column],
    part_aggs: Sequence[Column],
    fold: Callable[[list], tuple[list[tuple], Any]],
    offsets_schema: str,
    parts: int,
) -> Iterator[tuple[DataFrame, Window, Any]]:
    """The shared scaffold behind both prefix helpers: range-partition
    `df` on `cols`, tag the physical partition id, hold it cached (the
    boundaries are sampled — the offsets are only valid against the
    partitioning they were measured on), aggregate per partition with
    `part_aggs`, collect the ≤ `parts` rows to the driver sorted by
    pid, run the caller's exclusive `fold` over them (returns the
    offset tuples plus any extra payload), and broadcast-join the
    offsets back onto the ranged frame.

    Yields ``(aug, window, extra)`` where `aug` carries the offset
    columns and `window` is the within-partition total-order window
    the caller combines against; the cache is dropped when the block
    exits, so materialize results inside it.
    """
    with held(
        df.repartitionByRange(parts, *cols).withColumn("pid", F.spark_partition_id()),
        fill=False,
    ) as ranged:
        part_rows = sorted(
            ((r["pid"], r) for r in ranged.groupBy("pid").agg(*part_aggs).collect()),
            key=lambda t: t[0],
        )
        offset_rows, extra = fold(part_rows)
        offsets = spark.createDataFrame(offset_rows, offsets_schema)
        aug = ranged.join(F.broadcast(offsets), "pid")
        yield aug, Window.partitionBy("pid").orderBy(*cols), extra


@contextmanager
def global_prefix(
    spark: SparkSession,
    df: DataFrame,
    order_cols: Sequence[Column | str],
    cum_cols: Sequence[str] = (),
    parts: int = 32,
) -> Iterator[tuple[DataFrame, dict[str, int]]]:
    """``with global_prefix(...) as (aug, totals):`` yields

    - ``aug`` — ``df`` plus a global ``rk`` (row_number over
      `order_cols`) and, per name ``c`` in `cum_cols`, a global
      running sum ``cum_<c>`` (ROWS UNBOUNDED PRECEDING, inclusive);
    - ``totals`` — ``{"n": row count}`` plus the full sum per cum col
      (a cum col may not itself be named ``"n"`` — rejected up front
      rather than silently colliding with the row-count key).

    The internal cache is dropped when the block exits (exception
    included): materialize everything derived from ``aug`` inside it
    (the revenue_pareto idiom: collect the small result in the block).
    """
    if "n" in cum_cols:
        raise ValueError(
            'cum col "n" collides with the row-count totals key — '
            "alias the column first"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    aggs = [F.count("*").alias("_n")] + [
        F.sum(c).alias(f"_s_{c}") for c in cum_cols
    ]

    def fold(part_rows):
        totals: dict[str, int] = {"n": sum(r["_n"] for _, r in part_rows)}
        for c in cum_cols:
            totals[c] = sum(r[f"_s_{c}"] or 0 for _, r in part_rows)
        rows, acc_n, acc_sums = [], 0, {c: 0 for c in cum_cols}
        for pid, r in part_rows:
            rows.append((pid, acc_n, *[acc_sums[c] for c in cum_cols]))
            acc_n += r["_n"]
            for c in cum_cols:
                acc_sums[c] += r[f"_s_{c}"] or 0
        return rows, totals

    schema = "pid INT, _rows_before LONG" + "".join(
        f", _before_{c} LONG" for c in cum_cols
    )
    with _ranged_offsets(spark, df, cols, aggs, fold, schema, parts) as scaffold:
        aug, w, totals = scaffold
        run = w.rowsBetween(Window.unboundedPreceding, 0)
        aug = aug.withColumn(
            "rk", F.row_number().over(w) + F.col("_rows_before")
        )
        for c in cum_cols:
            aug = aug.withColumn(
                f"cum_{c}", F.sum(c).over(run) + F.col(f"_before_{c}")
            )
        yield aug, totals


@contextmanager
def exclusive_prefix_max(
    spark: SparkSession,
    df: DataFrame,
    order_cols: Sequence[Column | str],
    val_col: str,
    parts: int = 32,
) -> Iterator[DataFrame]:
    """``with exclusive_prefix_max(...) as aug:`` yields ``df`` plus
    ``prev_max`` — the max of integral ``val_col`` over all
    STRICTLY-preceding rows in the total order (NULL for the first
    row), without a single-partition global window; materialize it
    inside the block.

    Same three-step shape as global_prefix (max is associative, so the
    per-partition offset trick carries over verbatim), sharing its
    scaffold: exclusive cross-partition prefix maxima from the driver
    fold, then a within-partition ROWS-exclusive running max combined
    with the broadcast offset.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    def fold(part_rows):
        offs: list[tuple[int, int | None]] = []
        acc: int | None = None
        for pid, r in part_rows:
            offs.append((pid, acc))
            m = r["_m"]
            if m is not None and (acc is None or m > acc):
                acc = m
        return offs, None

    with _ranged_offsets(
        spark,
        df,
        cols,
        [F.max(val_col).alias("_m")],
        fold,
        "pid INT, _max_before LONG",
        parts,
    ) as (aug, w, _):
        local_prev = F.max(val_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        yield aug.withColumn(
            "prev_max", F.greatest(local_prev, F.col("_max_before"))
        )
