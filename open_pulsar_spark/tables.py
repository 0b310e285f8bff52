"""Test-table catalog: the driver's TPC-H-ish star schema + docs/embeddings.

Tables live as one parquet file per table under a scale-factor dir
(TESTDATA.md).  At 100 TB each of these would be a partitioned parquet
/ Delta dataset; `load_table` keeps that substitution to one place.

Footer cache: `load_table` infers each file's Spark schema (a Spark job
that reads the footer) and its TIMESTAMP(NANOS) columns (a pyarrow
footer read) once, then reads with the cached schema, which starts no
job. An entry is reused while its key is unchanged: the (relative path,
st_mtime_ns, st_size) of the file — of every file under it for a
directory-style dataset — plus the session confs that change parquet
schema inference (`_INFERENCE_CONFS`). A rewritten file therefore gets
a new schema on its next load. Only the schema is cached, never a
DataFrame: each call returns a fresh relation. The cache is
process-wide, holds one entry per path, and is safe to use from several
threads (two threads may both infer a new entry; the later one wins).
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor: these
# are bounded catalogs (5 regions, 25 nations), not fact tables.
BROADCASTABLE = {"region", "nation"}

# Session confs that change what Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)
# absolute path -> (key, (schema, TIMESTAMP(NANOS) columns)); see _footer.
_FOOTERS: dict[str, tuple[tuple, tuple[StructType, frozenset[str]]]] = {}
_FOOTERS_LOCK = threading.Lock()


def _parquet_nanos_columns(path: str) -> set[str]:
    """Column names whose parquet logical type is TIMESTAMP(NANOS).

    Footer-only read (no data IO). Used to gate the ns->us bigint
    rescale below: a bigint column is only rescaled when the file
    actually declares nanosecond timestamps — a plain int64 column that
    merely shares the name must pass through untouched, otherwise its
    values would be silently divided by 1000.

    Raises ValueError when the footer cannot be read: guessing "no ns
    columns" would leave nanosecond timestamps unscaled without error.
    """
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):  # directory-style dataset
            schema = pads.dataset(path, format="parquet").schema
        else:
            schema = pq.read_schema(path)
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(
            f"cannot read the parquet footer of {path!r}, so its "
            "TIMESTAMP(NANOS) columns are unknown"
        ) from exc
    return {
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }


def _file_stamp(path: str) -> tuple:
    """(relative path, mtime_ns, size) of the file at `path`, or of every
    file under it when `path` is a directory-style dataset."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return ((".", st.st_mtime_ns, st.st_size),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            fst = os.stat(fp)
            out.append((os.path.relpath(fp, path), fst.st_mtime_ns, fst.st_size))
    return tuple(out)


def _footer(spark: SparkSession, path: str) -> tuple[StructType, frozenset[str]]:
    """The Spark schema inferred for `path` and its TIMESTAMP(NANOS)
    columns, inferred once and reused while the key is unchanged."""
    # Stamp BEFORE inferring: a rewrite racing the inference then leaves
    # an entry under the old stamp, which the next call misses.
    key = (_file_stamp(path), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    slot = os.path.abspath(path)
    with _FOOTERS_LOCK:
        entry = _FOOTERS.get(slot)
    if entry is not None and entry[0] == key:
        return entry[1]
    # Probe first: it fails loudly before Spark starts its inference job.
    nanos = frozenset(_parquet_nanos_columns(path))
    value = (spark.read.parquet(path).schema, nanos)
    with _FOOTERS_LOCK:
        _FOOTERS[slot] = (key, value)
    return value


def _normalize_timestamps(df: DataFrame, nanos_cols: set[str] = frozenset()) -> DataFrame:
    """Map every temporal column to plain TIMESTAMP (UTC wall clock).

    The driver's parquet stores naive timestamps; depending on the
    writer they arrive as TIMESTAMP(NANOS) (rejected unless read as
    bigint) or timestamp[us] without tz (read as TIMESTAMP_NTZ under
    Spark 4's inferTimestampNTZ). Both are the same naive instant that
    DuckDB sees, so with a UTC session timezone the NTZ->TIMESTAMP cast
    and the ns->us truncation are identity wall-clock mappings — and
    downstream code (unix_micros, window(), watermarks) only has to
    handle one type.

    One projection for all columns; a frame with nothing to map is
    returned as is.
    """
    exprs, changed = [], False
    for f in df.schema.fields:
        q = "`" + f.name.replace("`", "``") + "`"
        if isinstance(f.dataType, TimestampNTZType):
            exprs.append(f"CAST({q} AS TIMESTAMP) AS {q}")
            changed = True
        elif isinstance(f.dataType, LongType) and f.name in nanos_cols:
            # nanosAsLong fired for this column (footer-verified):
            # ns -> us exactly like DuckDB's TIMESTAMP_NS -> TIMESTAMP
            # cast (truncation).
            exprs.append(f"timestamp_micros({q} div 1000) AS {q}")
            changed = True
        else:
            exprs.append(q)
    return df.selectExpr(*exprs) if changed else df


def widen_for_kernel(df: DataFrame) -> DataFrame:
    """Raise a narrow scan's parallelism before an Arrow/Python kernel
    stage (mapInPandas and friends).

    The per-partition Python kernel is the serial unit: a local
    single-file parquet scan yields only as many splits as row groups
    (measured: 10 splits on 32 cores → the minhash kernel ran 2.3×
    slower than with full fan-out). At cluster scale inputs arrive in
    hundreds of splits and this is a no-op — the repartition only fires
    when splits < cores, so the production plan stays map-only while
    the narrow-scan case pays one tiny local round-robin exchange of
    the projected columns (project BEFORE widening so the shuffle
    carries only what the kernel reads).
    """
    if df.isStreaming:  # micro-batches already fan out per trigger
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; one of {TABLE_NAMES}")
    # Older driver testdata wrote events.ts as TIMESTAMP(NANOS), which
    # Spark rejects by default; the conf is runtime-settable, so set it
    # here too — callers (e.g. the verify driver) may hand us a session
    # built without it. Same for the session timezone: the NTZ cast in
    # _normalize_timestamps and every date_trunc/date_format downstream
    # must run in UTC to match DuckDB's naive-timestamp semantics, and
    # the driver's vanilla session may not have set it.
    #
    # DELIBERATE SESSION-WIDE SIDE EFFECT: the timezone conf applies at
    # EXECUTION time of the lazily-built plans, so it cannot be set and
    # restored around this call — it must stay UTC for as long as any
    # frame loaded here may execute. An application embedding this
    # engine in a non-UTC session should isolate it (own SparkSession /
    # `newSession()`), which shares the JVM but not runtime confs.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    schema, nanos = _footer(spark, path)
    # A fresh relation per call: two loads of one table in one query
    # (a self-join) need distinct attribute ids.
    return _normalize_timestamps(spark.read.schema(schema).parquet(path), nanos)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql can see them."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    buckets: int = 8,
) -> None:
    """Persist `df` as a bucketed (and in-bucket sorted) table on `key`.

    Bucketing is the zero-shuffle join layout: two tables bucketed on
    the same key with the same bucket count join WITHOUT exchanging
    either side — at 100 TB that turns the nightly fact⋈fact join from
    the dominant shuffle into a local merge per bucket. This is the
    one-place implementation of SCALE.md's "facts arrive bucketed on
    their natural keys" assumption.
    """
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
