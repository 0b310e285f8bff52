"""Streaming twins: one computation declared once, run both as a
batch fold and as an incremental Structured Streaming query.

A twin keeps a partial-segment store (streaming/segments.py): every
micro-batch reduces to a small partial frame written as one epoch
segment, and a read folds all segments into the relation the batch
anchor query computes over the whole table. `twin(...)` declares:

  partial   the per-batch kernel, input frame → partial rows
  schema    the partial rows' DDL (the `epoch LONG` column is added)
  keys      the fold's grouping keys
  fold      a tuple of SQL aggregate expressions per key (empty: the
            distinct key set), or a callable over the store frame
  additive  whether the fold is NOT duplicate-tolerant across epochs
  source    the input the replica feeds it: a table name, or a
            function (spark, sf_dir) → DataFrame
  readouts  `Readout(fn, anchor, projection)` entries: module functions
            over `<twin>.read(...)`, each naming its anchor query

and generates the three functions every twin needs:

  update(spark, df, store_path, epoch_id)
      one epoch segment via segments.update_partial_store.
  read(spark, store_path)
      the folded store. An empty store folds an empty frame of the
      partial schema, so the output schema is written once.
  start(spark, stream, store_path, checkpoint, compact_max_segments=64)
      segments.start_partial_stream, clustered on `cluster`
      (default: `keys`).

The replay contract lives here and only here. An ADDITIVE store
double-counts a replayed row, so its epoch is required (a replayed
epoch overwrite-skips its committed segment), and the read and the
compaction both drop duplicates on (epoch, keys) before folding, so
the mid-compaction double-read window cannot double-add. Every other
store folds idempotently (set, max, min, OR, bottom-k): epoch-less
backfills are accepted, and compaction drops only rows identical in
every partial column.

Every registered fold is batching-invariant: folding a frame in any
epoch split equals folding it at once. tools/verify_twins.py and
tests/test_streaming.py iterate TWINS to check that, and each anchored
readout against its batch query. Two modules run the segment protocol
by hand instead; HAND_WRITTEN names them with the reason.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.registry import all_queries
from open_pulsar_spark.streaming.segments import (
    read_segments,
    start_partial_stream,
    update_partial_store,
)
from open_pulsar_spark.tables import load_table

Frame = Callable[[DataFrame], DataFrame]

# Modules that call segments.update_partial_store / start_partial_stream
# outside twin(...), and why. tests/test_streaming.py lints that this
# list is exact.
HAND_WRITTEN = (
    (
        "posting_stream",
        "tombstones: every read anti-joins purged doc_ids, compaction "
        "re-applies them, and reads take a term probe",
    ),
    (
        "lww_stream",
        "last-writer-wins resolves by epoch order, so its fold depends on "
        "the epoch split (a twin's may not); the as-of read",
    ),
)

# Registered readouts with no anchor query, as "<twin>.<readout>", and
# why. tests/test_streaming.py checks every other anchor is registered.
NO_ANCHOR = {
    "cusum.conformal_readout": (
        "the batch conformal query runs on events daily values; this "
        "readout serves the orders day ledger"
    ),
    "dq.read_dq": (
        "the replica compares direct per-rule counts; dq_violation_counts "
        "shares only two of its rules"
    ),
}


def total(col: str) -> str:
    """The additive fold of one value column: its BIGINT sum."""
    return f"CAST(sum({col}) AS BIGINT) AS {col}"


@dataclass(frozen=True)
class Readout:
    fn: Callable[[SparkSession, str], DataFrame]
    anchor: str | None
    projection: Frame | None = None

    @property
    def name(self) -> str:
        return self.fn.__name__

    def anchor_rows(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        df = all_queries()[self.anchor](spark, sf_dir)
        return self.projection(df) if self.projection else df


@dataclass(frozen=True)
class Twin:
    name: str
    partial: Frame
    schema: str
    keys: tuple[str, ...]
    fold: Sequence[str] | Frame
    additive: bool
    source: str | Callable[[SparkSession, str], DataFrame]
    readouts: tuple[Readout, ...]
    cluster: tuple[str, ...]

    @property
    def store_schema(self) -> str:
        return f"{self.schema}, epoch LONG"

    @property
    def dedup_keys(self) -> list[str]:
        if self.additive:
            return ["epoch", *self.keys]
        return [col.split()[0] for col in self.schema.split(",")]

    def update(
        self,
        spark: SparkSession,
        df: DataFrame,
        store_path: str,
        epoch_id: int | None,
    ) -> None:
        if epoch_id is None and self.additive:
            raise ValueError(
                f"{self.name} twin is additive: an epoch-less write would "
                "double-count on redelivery; pass a unique epoch id"
            )
        update_partial_store(df, store_path, epoch_id, self.partial)

    def read(self, spark: SparkSession, store_path: str) -> DataFrame:
        raw = read_segments(spark, store_path, self.store_schema)
        if raw is None:
            raw = spark.createDataFrame([], self.store_schema)
        if self.additive:
            raw = raw.dropDuplicates(self.dedup_keys)
        if callable(self.fold):
            return self.fold(raw)
        if not self.fold:
            return raw.select(*self.keys).distinct()
        return raw.groupBy(*self.keys).agg(*map(F.expr, self.fold))

    def start(
        self,
        spark: SparkSession,
        stream: DataFrame,
        store_path: str,
        checkpoint: str,
        compact_max_segments: int | None = 64,
    ):
        return start_partial_stream(
            stream,
            store_path,
            checkpoint,
            partial_of=self.partial,
            schema=self.store_schema,
            dedup_keys=self.dedup_keys,
            cluster_cols=list(self.cluster),
            compact_max_segments=compact_max_segments,
        )

    def source_frame(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        if callable(self.source):
            return self.source(spark, sf_dir)
        return load_table(spark, sf_dir, self.source)


TWINS: dict[str, Twin] = {}


def twin(
    name: str,
    *,
    partial: Frame,
    schema: str,
    keys: Sequence[str],
    fold: Sequence[str] | Frame,
    additive: bool,
    source: str | Callable[[SparkSession, str], DataFrame],
    readouts: Sequence[Readout] = (),
    cluster: Sequence[str] | None = None,
) -> Twin:
    """Declare and register a twin (module docstring)."""
    if name in TWINS:
        raise ValueError(f"duplicate twin name {name!r}")
    t = Twin(
        name,
        partial,
        schema,
        tuple(keys),
        fold if callable(fold) else tuple(fold),
        additive,
        source,
        tuple(readouts),
        tuple(cluster if cluster is not None else keys),
    )
    TWINS[name] = t
    return t


def all_twins() -> dict[str, Twin]:
    """Every registered twin (imports each `*_stream` module once)."""
    import open_pulsar_spark.streaming as pkg

    for mod in pkgutil.iter_modules(pkg.__path__):
        if mod.name.endswith("_stream"):
            importlib.import_module(f"{pkg.__name__}.{mod.name}")
    return dict(TWINS)

