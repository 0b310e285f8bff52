"""Table catalog: nanos-timestamp events load on a session without the
legacy conf pre-set (the driver scenario), schema sanity."""

from __future__ import annotations

import pytest

from open_pulsar_spark.tables import TABLE_NAMES, load_table
from tests.conftest import SF_SMALL


def test_events_ts_is_usable_timestamp(spark):
    ev = load_table(spark, SF_SMALL, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    r = ev.orderBy("event_id").first()
    assert r.ts.year == 2024


def test_all_tables_load(spark):
    for name in TABLE_NAMES:
        assert load_table(spark, SF_SMALL, name).count() > 0


def test_unknown_table_rejected(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF_SMALL, "nope")


def test_bigint_ts_rescaled_only_when_parquet_declares_nanos(spark, tmp_path):
    """A bigint column named like a timestamp is rescaled ns->us ONLY
    when the parquet footer declares TIMESTAMP(NANOS); a plain int64
    column with the same name must pass through untouched (testdata
    physical types drift between rounds — silent /1000 is the hazard)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_pulsar_spark.tables import _normalize_timestamps, _parquet_nanos_columns

    us = 1_704_103_200_000_000  # 2024-01-01 10:00:00 in microseconds

    # Case 1: genuine TIMESTAMP(NANOS) parquet -> nanosAsLong makes
    # Spark read bigint; the footer gate must fire and rescale.
    p_ns = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([us * 1000], type=pa.timestamp("ns"))}),
        p_ns,
        store_schema=False,  # no arrow schema override: Spark sees raw INT64/TIMESTAMP(NANOS)
    )
    assert _parquet_nanos_columns(p_ns) == {"ts"}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(p_ns)
    if dict(df.dtypes)["ts"] == "bigint":  # nanosAsLong path
        out = _normalize_timestamps(df, _parquet_nanos_columns(p_ns))
        assert dict(out.dtypes)["ts"] == "timestamp"
        assert out.first().ts.year == 2024

    # Case 2: plain int64 named ts -> NOT a nanos column; values must
    # survive bit-for-bit (no /1000).
    p_int = str(tmp_path / "int.parquet")
    pq.write_table(pa.table({"ts": pa.array([us], type=pa.int64())}), p_int)
    assert _parquet_nanos_columns(p_int) == set()
    df2 = spark.read.parquet(p_int)
    out2 = _normalize_timestamps(df2, _parquet_nanos_columns(p_int))
    assert dict(out2.dtypes)["ts"] == "bigint"
    assert out2.first().ts == us


def test_widen_for_kernel_raises_narrow_scans(spark):
    from open_pulsar_spark.tables import load_table, widen_for_kernel

    from tests.conftest import SF_SMALL

    narrow = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    widened = widen_for_kernel(narrow)
    target = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() >= min(
        target, narrow.rdd.getNumPartitions() + 1
    ) or narrow.rdd.getNumPartitions() >= target
    # already-wide frames pass through untouched (no extra exchange)
    wide = narrow.repartition(target)
    assert widen_for_kernel(wide) is wide


def _write(path, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def _settled_job_ids(spark, group: str) -> list[int]:
    """Job ids of `group`, read after a marker job in a later group shows
    up: the status listener handles events in order, so every job
    `group` started is visible by then."""
    import time

    sc = spark.sparkContext
    marker = group + "-marker"
    sc.setJobGroup(marker, marker)
    spark.range(1).count()
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "status tracker never saw the marker job"
        time.sleep(0.05)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_probe_fails_loudly(spark, tmp_path):
    """A footer that cannot be read is an error, never "no ns columns",
    and a failed probe is not cached: once the file is valid it loads."""
    from open_pulsar_spark import tables

    bad = tmp_path / "region.parquet"
    bad.write_text("not a parquet file")
    with pytest.raises(ValueError, match="parquet footer"):
        tables._parquet_nanos_columns(str(bad))
    with pytest.raises(ValueError, match="parquet footer"):
        load_table(spark, str(tmp_path), "region")
    assert str(bad) not in tables._FOOTERS
    with pytest.raises(ValueError, match="parquet footer"):
        tables._parquet_nanos_columns(str(tmp_path / "missing.parquet"))

    _write(bad, {"r_regionkey": [0, 1]})
    assert load_table(spark, str(tmp_path), "region").count() == 2


def test_rewritten_file_is_reinferred_on_a_live_session(spark, tmp_path):
    """Rewriting a table under a live session (new schema, new values,
    later mtime) invalidates its cached schema: the next load sees the
    new columns and rows."""
    import os

    path = tmp_path / "region.parquet"
    _write(path, {"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    first = load_table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in first.collect()) == ["A", "B"]

    mtime = os.stat(path).st_mtime_ns
    _write(path, {"r_regionkey": [7, 8, 9], "r_name": ["X", "Y", "Z"],
                  "r_comment": ["x", "y", "z"]})
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    second = load_table(spark, str(tmp_path), "region")
    assert second.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(tuple(r) for r in second.collect()) == [
        (7, "X", "x"), (8, "Y", "y"), (9, "Z", "z")
    ]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    """A conf that changes schema inference (binaryAsString) gets its own
    inference instead of the schema cached under the old setting."""
    conf = "spark.sql.parquet.binaryAsString"
    _write(tmp_path / "region.parquet", {"r_name": [b"ASIA"]})
    before = spark.conf.get(conf)
    assert dict(load_table(spark, str(tmp_path), "region").dtypes)["r_name"] == "binary"
    spark.conf.set(conf, "true")
    try:
        df = load_table(spark, str(tmp_path), "region")
        assert dict(df.dtypes)["r_name"] == "string"
        assert df.first().r_name == "ASIA"
    finally:
        spark.conf.set(conf, before)
    assert dict(load_table(spark, str(tmp_path), "region").dtypes)["r_name"] == "binary"


def test_self_join_of_two_loads_matches_duckdb(spark):
    """Each load is a fresh relation, so two loads of one table join
    without ambiguous attributes — through the timestamp projection too."""
    import duckdb

    a = load_table(spark, SF_SMALL, "orders")
    b = load_table(spark, SF_SMALL, "orders")
    got = (
        a.join(b, a["o_custkey"] == b["o_custkey"])
        .where(a["o_orderdate"] < b["o_orderdate"])
        .select(a["o_orderkey"], b["o_orderkey"])
        .count()
    )
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_SMALL}/orders.parquet') a "
        f"JOIN read_parquet('{SF_SMALL}/orders.parquet') b "
        "ON a.o_custkey = b.o_custkey WHERE a.o_orderdate < b.o_orderdate"
    ).fetchone()[0]
    assert want > 0
    assert got == want


def test_repeat_load_starts_no_spark_job(spark, tmp_path):
    """The first load of a table infers its schema (one Spark job); a
    repeat load of the unchanged file reads with the cached schema and
    starts none."""
    import shutil

    shutil.copy(f"{SF_SMALL}/lineitem.parquet", tmp_path / "lineitem.parquet")
    sc = spark.sparkContext
    try:
        sc.setJobGroup("load-first", "load-first")
        load_table(spark, str(tmp_path), "lineitem")
        assert _settled_job_ids(spark, "load-first")  # the probe can see jobs
        sc.setJobGroup("load-repeat", "load-repeat")
        df = load_table(spark, str(tmp_path), "lineitem")
        assert _settled_job_ids(spark, "load-repeat") == []
    finally:
        sc._jsc.clearJobGroup()
    assert dict(df.dtypes)["l_shipdate"] == "timestamp"


def test_concurrent_first_loads_agree(spark, tmp_path):
    """More threads than cores racing on the first load of a table all
    get the same schema and rows, and leave one whole cache entry."""
    import os
    import shutil
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from open_pulsar_spark import tables

    path = tmp_path / "orders.parquet"
    shutil.copy(f"{SF_SMALL}/orders.parquet", path)

    def load(_):
        df = load_table(spark, str(tmp_path), "orders")
        return df.schema, df.count()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=2 * os.cpu_count()) as pool:
            results = list(pool.map(load, range(16), timeout=300))
    finally:
        sys.setswitchinterval(old)
    assert len(results) == 16 and len(set(results)) == 1
    schema, n = results[0]
    assert dict((f.name, f.dataType.simpleString()) for f in schema)["o_orderdate"] == "timestamp"
    assert n > 0
    key, (cached, nanos) = tables._FOOTERS[str(path)]
    assert key[0] == tables._file_stamp(str(path))
    assert cached == spark.read.parquet(str(path)).schema and nanos == frozenset()
