"""SparkSession factory tuned for this engine.

Defaults are sized for the local[32] test harness but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- UTC session timezone (oracle comparisons against DuckDB are UTC-naive).
- Arrow enabled for the Pandas-UDF path (the only Python hot path).
- shuffle.partitions ~ cores locally; on a real cluster AQE's coalesce
  makes the static number mostly irrelevant as long as it's not tiny.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "open-pulsar-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
        # refuses by default; read as long, converted in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The r12 shuffled-hash-join knobs (preferSortMergeJoin=false +
        # adaptive.maxShuffledHashJoinLocalMapThreshold=64m) are GONE:
        # r12 adopted them from a same-session A/B on a loaded box, and
        # the round-13 drift-free instrument (tools/knob_ab.py — both
        # are runtime SQL confs, so configs interleave per sample in
        # ONE session) showed them COSTING ~5-9% across the TPC-H
        # shapes and the join-heavy graph/rfm queries vs the vanilla
        # join config (OPTIMIZATION_r13.md §2). ADVICE r12 also flagged
        # the static flip's OOM risk: SHJ plans from Catalyst size
        # ESTIMATES and its build side does not spill. Sort-merge +
        # explicit/AQE broadcasts are the measured AND scale-safe
        # default here.
        # InferFiltersFromGenerate rewrites explode(arr) into
        # Filter(isnotnull(arr) AND size(arr)>0) + explode(arr). When
        # `arr` is an expensive derived array (this engine's universal
        # pattern: md5 shingle hashes, basket pair structs, winnowing
        # grams, bigrams), that inferred filter is pushed below the
        # projection and re-evaluates the WHOLE array expression twice
        # more per input row — in an interpreted (non-codegen) Filter.
        # explode() drops null/empty arrays itself, so excluding the
        # rule is semantics-free; measured 3.9 s -> 0.5 s on the
        # containment shingle explode at sf0.1, and the same shape
        # repeats in every explode-heavy operator. Scale-safe: the
        # filter could only help when rows carry PRE-COMPUTED arrays
        # that are mostly empty — no query here has that shape.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # Stateful-streaming state store: RocksDB, not the default
        # executor-heap HDFSBackedStateStoreProvider. At 100 TB-scale
        # key cardinality (per-chat sessions, per-doc near-dup index,
        # per-chat quota — SURVEY D4/T4) heap state OOMs the executor;
        # RocksDB spills to local disk and changelog checkpointing
        # uploads per-batch deltas instead of full snapshots.
        # The provider is a runtime SQL conf: a deployment that needs
        # the heap provider back sets it with spark.conf.set before it
        # starts its first stateful query.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # FAIR scheduling: the streaming app starts each branch under
        # its own pool (streaming/app.py) — without FAIR mode those
        # pool labels are inert (FIFO would let a saturated task
        # branch starve the chat branch, the exact failure T5 exists
        # to prevent). Unconfigured pools get equal shares.
        .config("spark.scheduler.mode", "FAIR")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Split small single-file tables across cores: the test tables
        # are one ~2-10MB parquet file each, which the 128MB default
        # would scan in 1-3 tasks, serializing the whole query on one
        # core of local[32] (measured 2-5x on q1/q5). A real cluster
        # deployment reads multi-file partitioned datasets and should
        # keep the 128MB default — override via SPARK_GRAFT_MPB.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MPB", "1m"),
        )
        .config("spark.sql.files.openCostInBytes", "65536")
    )
    return builder.getOrCreate()
