"""Structured Streaming behavior: watermarked windows over a file
source, streaming dedup, per-chat stateful sessions across
micro-batches, and checkpointed offset semantics."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from open_pulsar_spark.streaming.events_stream import (
    EVENT_SCHEMA,
    dedup_within_watermark,
    read_event_stream,
    tumbling_counts,
)
from open_pulsar_spark.streaming.sessions import chat_turns


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / uuid.uuid4().hex[:8])


def _run_stream(df, name, checkpoint):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_tumbling_window_emits_after_watermark_passes(spark, workdir):
    src, ckpt = f"{workdir}/src", f"{workdir}/ckpt"
    # batch 1: events in the 10:00 window; batch 2 much later so the
    # watermark (2h) passes 10:00-11:00 and append mode finalizes it
    _write_events(spark, src, [
        (1, _ts(5), 7, "click", 1.0, "{}"),
        (2, _ts(20), 7, "click", 2.0, "{}"),
        (3, _ts(25), 8, "view", 5.0, "{}"),
    ])
    _write_events(spark, src, [
        (4, dt.datetime(2024, 1, 1, 14, 0), 7, "click", 1.0, "{}"),
    ])
    out = tumbling_counts(read_event_stream(spark, src), window="1 hour", watermark="2 hours")
    _run_stream(out, "tumbling_out", ckpt)
    rows = {(r.window_start, r.event_type): r for r in spark.sql("select * from tumbling_out").collect()}
    key = (dt.datetime(2024, 1, 1, 10, 0), "click")
    assert key in rows
    assert rows[key].n == 2 and rows[key].total_value == 3.0
    # the 14:00 window is NOT emitted: watermark hasn't passed it
    assert (dt.datetime(2024, 1, 1, 14, 0), "click") not in rows


def test_dedup_within_watermark_drops_replays(spark, workdir):
    src, ckpt = f"{workdir}/src", f"{workdir}/ckpt"
    _write_events(spark, src, [
        (1, _ts(0), 1, "click", 1.0, "{}"),
        (1, _ts(0), 1, "click", 1.0, "{}"),   # exact replay, same batch
        (2, _ts(1), 1, "view", 1.0, "{}"),
    ])
    _write_events(spark, src, [
        (1, _ts(0), 1, "click", 1.0, "{}"),   # replay in a later batch
        (3, _ts(2), 1, "click", 1.0, "{}"),
    ])
    out = dedup_within_watermark(read_event_stream(spark, src), watermark="1 hour")
    _run_stream(out, "dedup_out", ckpt)
    ids = [r.event_id for r in spark.sql("select * from dedup_out").collect()]
    assert sorted(ids) == [1, 2, 3]


def test_chat_sessions_thread_across_microbatches(spark, workdir):
    src, ckpt = f"{workdir}/msgs", f"{workdir}/ckpt"
    schema = "update_id LONG, chat_id LONG, text STRING"
    spark.createDataFrame([(1, 10, "hello")], schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, 10, "again"), (3, 10, "and again"), (4, 11, "other chat")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    msgs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _run_stream(chat_turns(msgs), "chat_out", ckpt)
    rows = {r.update_id: r for r in spark.sql("select * from chat_out").collect()}
    assert rows[1].status == "ok"
    # session threaded across micro-batches: update 2's session derives
    # from update 1's (state persisted), so it differs from a fresh one
    assert rows[2].status == "ok"
    assert rows[2].session_id != rows[1].session_id
    # in-flight dedup: second message for chat 10 in the SAME batch → busy
    assert rows[3].status == "busy"
    assert rows[4].status == "ok"          # other chat unaffected (T5 isolation)


def test_chat_reset_clears_session(spark, workdir):
    src, ckpt = f"{workdir}/msgs", f"{workdir}/ckpt"
    schema = "update_id LONG, chat_id LONG, text STRING"
    spark.createDataFrame([(1, 10, "hi")], schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(2, 10, "/reset")], schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(3, 10, "fresh start")], schema).coalesce(1).write.mode("append").parquet(src)
    msgs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    _run_stream(chat_turns(msgs), "reset_out", ckpt)
    rows = {r.update_id: r for r in spark.sql("select * from reset_out").collect()}
    assert rows[2].status == "reset" and rows[2].session_id is None
    # post-reset session restarts the chain: equals md5('|fresh start')-prefix
    import hashlib
    expected = hashlib.md5(b"|fresh start").hexdigest()[:12]
    assert rows[3].session_id == expected


def test_chat_session_ttl_evicts_idle_state(spark, workdir):
    """Idle chats time out: after TTL passes with no traffic, the next
    message starts a FRESH session chain (state was evicted).

    Synchronization note: with ProcessingTimeTimeout, Spark's
    FlatMapGroupsWithState*Exec.shouldRunAnotherBatch is always true —
    the engine keeps constructing no-data batches to fire timers, so
    `noNewData` is never signaled and processAllAvailable() would block
    FOREVER. A timer query must use a real trigger interval and be
    observed by polling the sink with a deadline."""
    import hashlib
    import time

    def await_rows(name, pred, deadline_s=120):
        end = time.monotonic() + deadline_s
        while time.monotonic() < end:
            rows = {r.update_id: r for r in spark.sql(f"select * from {name}").collect()}
            if pred(rows):
                return rows
            time.sleep(0.2)
        raise AssertionError(f"sink {name} never satisfied predicate")

    src, ckpt = f"{workdir}/msgs", f"{workdir}/ckpt"
    schema = "update_id LONG, chat_id LONG, text STRING"
    spark.createDataFrame([(1, 10, "first")], schema).coalesce(1).write.mode("append").parquet(src)
    msgs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        chat_turns(msgs, ttl_ms=300)
        .writeStream.outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .format("memory")
        .queryName("ttl_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        await_rows("ttl_out", lambda r: 1 in r)
        time.sleep(1.5)  # idle > TTL: timer batches evict chat 10's state
        spark.createDataFrame([(2, 10, "after idle")], schema).coalesce(1).write.mode("append").parquet(src)
        rows = await_rows("ttl_out", lambda r: 2 in r)
    finally:
        q.stop()
    # update 2 starts from scratch: md5('|after idle'), not chained on update 1
    fresh = hashlib.md5(b"|after idle").hexdigest()[:12]
    assert rows[2].session_id == fresh
    assert rows[2].session_id != rows[1].session_id


def test_checkpoint_resume_does_not_reprocess(spark, workdir):
    """Offset semantics (SURVEY T1): restarting a query on the same
    checkpoint continues from the committed offset — no reprocessing
    (a durable file sink; memory sinks can't recover checkpoints)."""
    src, ckpt, out = f"{workdir}/src", f"{workdir}/ckpt", f"{workdir}/out"

    def run_once():
        q = (
            dedup_within_watermark(read_event_stream(spark, src))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _write_events(spark, src, [(1, _ts(0), 1, "click", 1.0, "{}")])
    run_once()
    # add data, restart on the SAME checkpoint
    _write_events(spark, src, [(2, _ts(1), 1, "view", 1.0, "{}")])
    run_once()
    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2]   # each file processed exactly once across restarts


def test_stream_stream_interval_join_attributes_within_window(spark, workdir):
    from open_pulsar_spark.streaming.events_stream import click_purchase_attribution

    src_c, src_p = f"{workdir}/clicks", f"{workdir}/purchases"
    ckpt = f"{workdir}/ckpt"
    # clicks at 10:00 and 10:50 for user 1; a click for user 2 at 10:05
    _write_events(spark, src_c, [
        (100, _ts(0), 1, "click", 0.0, "{}"),
        (101, _ts(50), 1, "click", 0.0, "{}"),
        (102, _ts(5), 2, "click", 0.0, "{}"),
    ])
    # purchase at 10:55 (user 1): attributes to the 10:50 click only
    # (10:00 is outside the 30-minute window); purchase at 12:00
    # (user 2): no click within window
    _write_events(spark, src_p, [
        (200, _ts(55), 1, "purchase", 9.99, "{}"),
        (201, dt.datetime(2024, 1, 1, 12, 0), 2, "purchase", 5.0, "{}"),
    ])
    # advance both watermarks far enough to close the join state
    late = dt.datetime(2024, 1, 1, 15, 0)
    _write_events(spark, src_c, [(103, late, 9, "click", 0.0, "{}")])
    _write_events(spark, src_p, [(202, late, 9, "purchase", 1.0, "{}")])

    out = click_purchase_attribution(
        read_event_stream(spark, src_c), read_event_stream(spark, src_p)
    )
    _run_stream(out, "attr_out", ckpt)
    rows = spark.sql("select * from attr_out").collect()
    attributed = {(r.purchase_id, r.click_id) for r in rows}
    assert (200, 101) in attributed          # in-window click joins
    assert (200, 100) not in attributed      # 55-min-old click excluded
    assert all(r.purchase_id != 201 for r in rows)  # no click in window


def test_streaming_curation_dedups_and_gates_quality(spark, workdir):
    from open_pulsar_spark.streaming.curation_stream import (
        DOC_STREAM_SCHEMA,
        curate_stream,
        read_doc_stream,
    )

    src, ckpt = f"{workdir}/docs", f"{workdir}/ckpt"
    good = " ".join(f"tok{i}" for i in range(120))       # long, diverse → passes
    junk = "the the the the the"                          # short, repetitive → fails

    def write(rows):
        spark.createDataFrame(rows, DOC_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([
        (1, _ts(0), good, "en"),
        (2, _ts(1), junk, "en"),
        (3, _ts(2), good, "en"),          # same content as 1 → deduped
    ])
    write([
        (4, _ts(5), good, "en"),          # replay in a later batch → deduped
        (5, _ts(6), good + " extra", "en"),
    ])
    out = curate_stream(read_doc_stream(spark, src))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("curated_docs")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.doc_id for r in spark.sql("select doc_id from curated_docs").collect())
    # 1 survives; 2 fails quality; 3 and 4 are exact dups; 5 is new content
    assert ids == [1, 5]


def test_retry_stream_backoff_is_data_not_sleep(spark, workdir):
    import time

    from open_pulsar_spark.streaming.retry_stream import (
        WORK_SCHEMA,
        read_results,
        start_retry_pipeline,
    )

    wd, rd, res, ckpt = (
        f"{workdir}/work",
        f"{workdir}/retry",
        f"{workdir}/results",
        f"{workdir}/ckpt",
    )
    spark.createDataFrame(
        [(1, "flaky", 1, None), (2, "solid", 1, None), (3, "doomed", 1, None)],
        WORK_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(wd)

    seen: dict[str, int] = {}

    def model(payload: str, attempt: int) -> bool:
        seen[payload] = seen.get(payload, 0) + 1
        if payload == "solid":
            return True
        if payload == "flaky":
            return attempt >= 2          # fails once, succeeds on retry
        return False                     # doomed: always fails

    q = start_retry_pipeline(
        spark, wd, rd, res, ckpt, model, base_backoff_sec=0.5
    )
    try:
        # poll with a deadline (processAllAvailable would never settle:
        # the retry loop keeps creating files until quiescent)
        deadline = time.time() + 120
        while time.time() < deadline:
            rows = {r.task_id: r for r in read_results(spark, res).collect()}
            if len(rows) == 3:
                break
            time.sleep(1)
    finally:
        q.stop()

    assert rows[2].status == "completed" and rows[2].attempt == 1
    assert rows[1].status == "completed" and rows[1].attempt == 2
    assert rows[3].status == "failed" and rows[3].attempt == 5
    # the flaky task really went through the re-enqueue path
    assert seen["flaky"] == 2
    assert seen["doomed"] == 5


def test_retry_stream_fresh_checkpoint_not_blocked_by_stale_markers(spark, workdir):
    """Replay markers are namespaced by checkpoint: restarting the
    pipeline with a FRESH checkpoint (batch ids restart at 0) against
    the same results_dir must still process new work — markers from the
    previous incarnation died with its checkpoint and cannot silently
    skip batch 0/1/… of the new one."""
    import shutil
    import time

    from open_pulsar_spark.streaming.retry_stream import (
        WORK_SCHEMA,
        read_results,
        start_retry_pipeline,
    )

    wd, rd, res = f"{workdir}/work", f"{workdir}/retry", f"{workdir}/results"

    def run_until(ckpt, n_expected):
        q = start_retry_pipeline(
            spark, wd, rd, res, ckpt, lambda p, a: True, base_backoff_sec=0.1
        )
        try:
            deadline = time.time() + 60
            rows = {}
            while time.time() < deadline:
                rows = {r.task_id: r for r in read_results(spark, res).collect()}
                if len(rows) >= n_expected:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        return rows

    spark.createDataFrame([(1, "a", 1, None)], WORK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(wd)
    rows = run_until(f"{workdir}/ckpt1", 1)
    assert rows[1].status == "completed"

    # new incarnation: fresh checkpoint, same dirs, new work
    shutil.rmtree(f"{workdir}/ckpt1")
    spark.createDataFrame([(2, "b", 1, None)], WORK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(wd)
    rows = run_until(f"{workdir}/ckpt2", 2)
    # the fresh run re-reads BOTH rows (new checkpoint = from scratch):
    # task 1 is skipped by the terminal guard, task 2 must complete —
    # under the old results_dir-global markers, batch 0's marker from
    # run 1 would have skipped it forever
    assert rows[2].status == "completed"
    assert rows[1].attempt == 1  # no duplicate terminal for task 1


def test_token_quota_compacts_at_threshold(spark, workdir):
    """applyInPandasWithState quota ledger: per-chat running token
    total persists across micro-batches; crossing 80% of the 200k
    window emits 'compact' and restarts the meter at that message's
    own tokens (reference compaction semantics)."""
    from open_pulsar_spark.streaming.quota import token_quota

    src, ckpt = f"{workdir}/tok", f"{workdir}/ckpt"
    schema = "update_id LONG, chat_id LONG, tokens LONG"
    # batch 1: chat 10 accumulates 150k; chat 20 stays tiny
    spark.createDataFrame(
        [(1, 10, 100_000), (2, 10, 50_000), (3, 20, 1_000)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: +20k -> 170k >= 160k threshold -> compact, meter restarts
    # at 20k; next message lands on the fresh meter (state persisted)
    spark.createDataFrame(
        [(4, 10, 20_000), (5, 10, 30_000)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    msgs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _run_stream(token_quota(msgs), "quota_out", ckpt)
    rows = {r.update_id: r for r in spark.sql("select * from quota_out").collect()}
    assert rows[1].action == "ok" and rows[1].used_tokens == 100_000
    assert rows[2].action == "ok" and rows[2].used_tokens == 150_000
    assert rows[3].action == "ok" and rows[3].used_tokens == 1_000
    assert rows[4].action == "compact" and rows[4].used_tokens == 170_000
    assert rows[5].action == "ok" and rows[5].used_tokens == 50_000


def test_neardup_stream_filters_against_history_and_within_batch(spark, workdir):
    """Incremental LSH dedup: batch 2's near-copy of a batch-1 doc is
    dropped (history), two near-copies arriving together keep only the
    lower doc_id (within-batch), and unrelated docs pass."""
    from open_pulsar_spark.streaming.neardup_stream import start_neardup_stream

    base = " ".join(f"tok{i}" for i in range(40))
    nearcopy = base + " extra"
    other = " ".join(f"zzz{i}" for i in range(40))
    other2 = " ".join(f"qqq{i}" for i in range(40))

    src = f"{workdir}/docs"
    schema = "doc_id LONG, text STRING"
    # batch 1: base doc + an unrelated doc
    spark.createDataFrame([(1, base), (2, other)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 2: near-copy of doc 1 (drop), two near-copies of each other
    # (keep 4, drop 5), and a fresh doc (keep)
    spark.createDataFrame(
        [(3, nearcopy), (4, other2), (5, other2 + " tail"), (6, "unique " * 40)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = start_neardup_stream(
        spark,
        stream,
        index_path=f"{workdir}/index",
        out_path=f"{workdir}/kept",
        checkpoint=f"{workdir}/ckpt",
    )
    q.processAllAvailable()
    q.stop()

    kept = sorted(r.doc_id for r in spark.read.parquet(f"{workdir}/kept").collect())
    assert kept == [1, 2, 4, 6]


def test_neardup_stream_auto_compacts_bounded_segments(spark, workdir):
    """Long-run maintenance: with compact_max_segments=N, a stream that
    appends one index segment per micro-batch keeps the committed
    segment count bounded (auto_compact merges at the threshold) AND
    keeps catching near-dups across the compaction boundary."""
    from open_pulsar_spark.streaming.neardup_stream import start_neardup_stream
    from open_pulsar_spark.streaming.segments import list_segments

    src = f"{workdir}/docs"
    schema = "doc_id LONG, text STRING"
    base = " ".join(f"tok{i}" for i in range(40))
    # 6 single-file micro-batches: 5 distinct docs, then a near-copy of
    # doc 0 arriving AFTER several compaction-eligible epochs
    for i in range(5):
        text = " ".join(f"w{i}x{j}" for j in range(40)) if i else base
        spark.createDataFrame([(i, text)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    spark.createDataFrame([(99, base + " extra")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    idx = f"{workdir}/index"
    q = start_neardup_stream(
        spark,
        stream,
        index_path=idx,
        out_path=f"{workdir}/kept",
        checkpoint=f"{workdir}/ckpt",
        compact_max_segments=3,
    )
    q.processAllAvailable()
    q.stop()

    # 6 epochs appended 6 segments; the threshold-3 trigger kept the
    # committed count bounded well below one-per-epoch
    assert len(list_segments(idx)) <= 3
    assert any("compact-" in s for s in list_segments(idx))
    kept = sorted(r.doc_id for r in spark.read.parquet(f"{workdir}/kept").collect())
    assert kept == [0, 1, 2, 3, 4]  # 99 dropped against compacted history


def test_neardup_index_compaction_preserves_behavior(spark, workdir):
    """Compacting the signature index must not change what the filter
    drops: same dup detected after compaction, fewer files on disk."""
    import os as _os

    from open_pulsar_spark.streaming.neardup_stream import (
        compact_index,
        filter_batch_against_index,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    idx = f"{workdir}/index"
    schema = "doc_id LONG, text STRING"
    # several appends -> several file sets
    def _parquet_files(root):
        return [
            _os.path.join(dp, f)
            for dp, _, fs in _os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]

    for i in range(3):
        docs = spark.createDataFrame([(i * 10, f"{'uniq%d ' % i * 40}")], schema)
        filter_batch_against_index(spark, docs, idx)
    filter_batch_against_index(
        spark, spark.createDataFrame([(100, base)], schema), idx
    )
    files_before = len(_parquet_files(idx))

    n = compact_index(spark, idx, target_files=2)
    files_after = len(_parquet_files(idx))
    assert n > 0 and files_after <= 2 < files_before

    # near-copy of doc 100 is still caught against the compacted index
    kept = filter_batch_against_index(
        spark, spark.createDataFrame([(200, base + " extra")], schema), idx
    )
    assert kept.count() == 0


def test_neardup_epoch_replay_is_idempotent(spark, workdir):
    """foreachBatch is at-least-once: re-running an epoch whose index
    rows already committed must reproduce the same survivors (no
    Jaccard-1.0 self-match drop) and must not duplicate index rows."""
    from open_pulsar_spark.streaming.neardup_stream import (
        filter_batch_against_index,
        read_index,
    )

    idx = f"{workdir}/index"
    schema = "doc_id LONG, text STRING"
    base = " ".join(f"tok{i}" for i in range(40))
    batch = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "fresh " * 40)], schema
    )

    first = sorted(
        r.doc_id
        for r in filter_batch_against_index(spark, batch, idx, epoch_id=0).collect()
    )
    assert first == [1, 3]  # doc 2 is a within-batch near-dup of 1
    rows_after_first = read_index(spark, idx).count()

    # crash-after-index-commit replay: same epoch, same batch
    replay = sorted(
        r.doc_id
        for r in filter_batch_against_index(spark, batch, idx, epoch_id=0).collect()
    )
    assert replay == first
    assert read_index(spark, idx).count() == rows_after_first


def test_streaming_hourly_rollup_maintains_table_and_daily_refresh(spark, workdir):
    """The hypertable base layer maintained from the stream: late
    (within-watermark) rows update their hour's partition in place,
    and the daily refresh aggregates the hourly table — totals match a
    batch aggregation of ALL events."""
    from open_pulsar_spark.streaming.rollup_stream import (
        refresh_daily,
        start_hourly_maintenance,
    )

    src, ckpt = f"{workdir}/ev", f"{workdir}/ckpt"
    hourly, daily = f"{workdir}/hourly", f"{workdir}/daily"
    # batch 1: two events in hour 10:00, one in 11:00
    _write_events(
        spark,
        src,
        [(1, _ts(5), 1, "click", 10.0, None), (2, _ts(50), 1, "click", 20.0, None),
         (3, dt.datetime(2024, 1, 1, 11, 10), 2, "view", 5.0, None)],
    )
    # batch 2: a LATE row for hour 10:00 (within the 2h watermark) and
    # a fresh row pushing the watermark forward
    _write_events(
        spark,
        src,
        [(4, _ts(59), 3, "click", 40.0, None),
         (5, dt.datetime(2024, 1, 1, 12, 1), 1, "view", 1.0, None)],
    )
    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_hourly_maintenance(spark, events, hourly, ckpt)
    q.processAllAvailable()
    q.stop()

    got = {
        r.b: (r.n, r.sv)
        for r in spark.read.parquet(hourly).select("b", "n", "sv").collect()
    }
    assert got[dt.datetime(2024, 1, 1, 10, 0)] == (3, 70.0)  # late row folded in
    assert got[dt.datetime(2024, 1, 1, 11, 0)] == (1, 5.0)
    assert got[dt.datetime(2024, 1, 1, 12, 0)] == (1, 1.0)

    day = refresh_daily(spark, hourly, daily).collect()
    assert len(day) == 1 and (day[0].n, day[0].sv) == (5, 76.0)


def test_token_quota_ttl_resets_idle_meter(spark, workdir):
    """Quota TTL branch: after an idle period longer than ttl_ms the
    chat's token meter is evicted, so the next message starts the
    count from zero instead of the pre-idle total. Timer queries need
    a real trigger + sink polling (see the session-TTL test note)."""
    import time

    from open_pulsar_spark.streaming.quota import token_quota

    def await_rows(name, pred, deadline_s=120):
        end = time.monotonic() + deadline_s
        while time.monotonic() < end:
            rows = {r.update_id: r for r in spark.sql(f"select * from {name}").collect()}
            if pred(rows):
                return rows
            time.sleep(0.2)
        raise AssertionError(f"sink {name} never satisfied predicate")

    src, ckpt = f"{workdir}/tokmsgs", f"{workdir}/ckpt"
    schema = "update_id LONG, chat_id LONG, tokens LONG"
    spark.createDataFrame([(1, 10, 50_000)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    msgs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        token_quota(msgs, ttl_ms=300)
        .writeStream.outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .format("memory")
        .queryName("quota_ttl_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        await_rows("quota_ttl_out", lambda r: 1 in r)
        time.sleep(1.5)  # idle > TTL: meter evicted
        spark.createDataFrame([(2, 10, 10_000)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        rows = await_rows("quota_ttl_out", lambda r: 2 in r)
    finally:
        q.stop()
    assert rows[1].used_tokens == 50_000
    assert rows[2].used_tokens == 10_000  # fresh meter, not 60_000


def test_embedding_dedup_stream_history_batch_and_replay(spark, workdir):
    """Incremental embedding near-dup: a later near-copy of an indexed
    vector is dropped (history), two near-copies arriving together keep
    the lower vec_id (within-batch), orthogonal vectors pass — and an
    epoch replay reproduces the same survivors without duplicating the
    index."""
    from open_pulsar_spark.streaming.embedding_stream import (
        compact_embedding_index,
        filter_embeddings_against_index,
        read_embedding_index,
        start_embedding_dedup_stream,
    )

    dim = 64
    def vec(axis, eps_axis=None):
        v = [0.0] * dim
        v[axis] = 1.0
        if eps_axis is not None:
            v[eps_axis] = 0.05  # cos vs pure axis ≈ 0.9987 → near-dup
        return v

    schema = "vec_id LONG, embedding ARRAY<FLOAT>"
    src = f"{workdir}/emb"
    # batch 1: v1 on axis0, v2 on axis1 (orthogonal → both kept)
    spark.createDataFrame([(1, vec(0)), (2, vec(1))], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    # batch 2: near-copy of v1 (drop), two near-copies of axis2 (keep 4,
    # drop 5), fresh axis3 (keep)
    spark.createDataFrame(
        [(3, vec(0, 5)), (4, vec(2)), (5, vec(2, 6)), (6, vec(3))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = start_embedding_dedup_stream(
        spark,
        stream,
        index_path=f"{workdir}/idx",
        out_path=f"{workdir}/kept",
        checkpoint=f"{workdir}/ckpt",
    )
    q.processAllAvailable()
    q.stop()

    kept = sorted(r.vec_id for r in spark.read.parquet(f"{workdir}/kept").collect())
    # 3 dropped vs history(1); 5 dropped within-batch vs 4
    assert kept == [1, 2, 4, 6]

    # replay epoch 1's batch: same survivors, index row count unchanged
    n_idx = read_embedding_index(spark, f"{workdir}/idx").count()
    replay_batch = spark.createDataFrame(
        [(3, vec(0, 5)), (4, vec(2)), (5, vec(2, 6)), (6, vec(3))], schema
    )
    replay = sorted(
        r.vec_id
        for r in filter_embeddings_against_index(
            spark, replay_batch, f"{workdir}/idx", epoch_id=1
        ).collect()
    )
    assert replay == [4, 6]
    assert read_embedding_index(spark, f"{workdir}/idx").count() == n_idx

    # compaction preserves behavior: an exact copy of kept vec 4 (same
    # bucket by construction — a perturbed copy may legitimately flip a
    # hyperplane sign, that's the documented LSH trade) is still caught
    # against the compacted index
    n = compact_embedding_index(spark, f"{workdir}/idx", target_files=2)
    assert n == n_idx
    caught = filter_embeddings_against_index(
        spark,
        spark.createDataFrame([(100, vec(2))], schema),
        f"{workdir}/idx",
    )
    assert caught.count() == 0


def test_neardup_cross_epoch_redelivery_is_dropped(spark, workdir):
    """A same-id redelivery in a LATER epoch is NOT a replay: it must
    be dropped as a duplicate (the epoch-aware exclusion only ignores
    the current epoch's own index rows). Same-id rows within one batch
    collapse to one."""
    from open_pulsar_spark.streaming.neardup_stream import (
        filter_batch_against_index,
        read_index,
    )

    idx = f"{workdir}/index"
    schema = "doc_id LONG, text STRING"
    base = " ".join(f"tok{i}" for i in range(40))

    first = filter_batch_against_index(
        spark,
        # doc 1 delivered twice in one batch -> one survivor row
        spark.createDataFrame([(1, base), (1, base)], schema),
        idx,
        epoch_id=0,
    )
    assert [r.doc_id for r in first.collect()] == [1]

    # upstream redelivers doc 1 in a later epoch: duplicate, dropped
    redelivered = filter_batch_against_index(
        spark, spark.createDataFrame([(1, base)], schema), idx, epoch_id=1
    )
    assert redelivered.count() == 0
    # the index did not grow a second copy of doc 1's bands
    assert read_index(spark, idx).select("doc_id").distinct().count() == 1


def test_embedding_cross_epoch_redelivery_is_dropped(spark, workdir):
    from open_pulsar_spark.streaming.embedding_stream import (
        filter_embeddings_against_index,
        read_embedding_index,
    )

    dim = 64
    v = [0.0] * dim
    v[0] = 1.0
    schema = "vec_id LONG, embedding ARRAY<FLOAT>"
    idx = f"{workdir}/idx"

    first = filter_embeddings_against_index(
        spark, spark.createDataFrame([(7, v), (7, v)], schema), idx, epoch_id=0
    )
    assert [r.vec_id for r in first.collect()] == [7]

    redelivered = filter_embeddings_against_index(
        spark, spark.createDataFrame([(7, v)], schema), idx, epoch_id=1
    )
    assert redelivered.count() == 0
    assert read_embedding_index(spark, idx).count() == 1


def test_backfill_then_stream_shares_one_index(spark, workdir):
    """Bootstrap-then-stream: the batch backfill seeds the index
    through the same code path as a micro-batch, and the stream then
    drops near-copies of backfilled docs."""
    from open_pulsar_spark.streaming.neardup_stream import (
        backfill_index,
        filter_batch_against_index,
    )

    idx = f"{workdir}/index"
    schema = "doc_id LONG, text STRING"
    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))

    # seed corpus contains its own near-dup pair: only the lower id survives
    n = backfill_index(
        spark,
        spark.createDataFrame([(1, base), (2, base + " extra"), (3, other)], schema),
        idx,
    )
    assert n == 2

    # a later "stream" batch: near-copy of seed doc 1 dropped, fresh kept
    kept = filter_batch_against_index(
        spark,
        spark.createDataFrame([(10, base + " tail"), (11, "fresh " * 40)], schema),
        idx,
        epoch_id=0,
    )
    assert sorted(r.doc_id for r in kept.collect()) == [11]


def test_segment_store_edge_cases(spark, tmp_path):
    """The shared segment protocol: uncommitted dirs are invisible,
    empty-store compaction is a no-op, epoch overwrite cleans a
    half-written segment."""
    import os

    from open_pulsar_spark.streaming.segments import (
        compact_segments,
        list_segments,
        read_segments,
        write_segment,
    )

    root = str(tmp_path / "store")
    schema = "k LONG, v STRING"

    # empty / missing root
    assert list_segments(root) == []
    assert read_segments(spark, root, schema) is None
    assert compact_segments(spark, root, schema, ["k"], ["k"]) == 0

    # an uncommitted (no _SUCCESS) dir must be invisible
    os.makedirs(os.path.join(root, "epoch=9"))
    with open(os.path.join(root, "epoch=9", "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert list_segments(root) == []

    # epoch overwrite replaces the half-written dir and commits
    df = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    seg = write_segment(df, root, epoch_id=9)
    assert list_segments(root) == [seg]
    assert read_segments(spark, root, schema).count() == 2

    # committed epoch: second write is a no-op (rows unchanged)
    write_segment(spark.createDataFrame([(99, "z")], schema), root, epoch_id=9)
    assert read_segments(spark, root, schema).count() == 2

    # backfill writes always land in fresh segments
    write_segment(spark.createDataFrame([(3, "c")], schema), root, epoch_id=None)
    assert read_segments(spark, root, schema).count() == 3

    # compaction: one segment, deduped rows, sources gone
    n = compact_segments(spark, root, schema, dedup_keys=["k"], cluster_cols=["k"])
    assert n == 3
    segs = list_segments(root)
    assert len(segs) == 1 and "compact-" in segs[0]
    assert read_segments(spark, root, schema).count() == 3


def test_zero_norm_embedding_is_dropped_at_the_door(spark, workdir):
    """An all-zeros embedding (encoder failure) must not poison the
    stream: it is dropped at tagging (its unit form is NaN and NaN
    cosines would bypass every dedup check)."""
    from open_pulsar_spark.streaming.embedding_stream import (
        filter_embeddings_against_index,
        read_embedding_index,
    )

    dim = 64
    good = [0.0] * dim
    good[0] = 1.0
    zero = [0.0] * dim
    schema = "vec_id LONG, embedding ARRAY<FLOAT>"
    idx = f"{workdir}/idx"

    kept = filter_embeddings_against_index(
        spark, spark.createDataFrame([(1, good), (2, zero)], schema), idx, epoch_id=0
    )
    assert [r.vec_id for r in kept.collect()] == [1]
    assert read_embedding_index(spark, idx).count() == 1


def test_hot_bucket_cap_bounds_candidate_generation(spark, workdir):
    """The max_band_collisions guard: an index band signature shared by
    more docs than the cap stops generating candidates (bounded join
    fan-out), at the documented cost of missing matches through that
    bucket; uncapped behavior is unchanged."""
    from open_pulsar_spark.streaming.neardup_stream import (
        filter_batch_against_index,
    )

    schema = "doc_id LONG, text STRING"
    base = " ".join(f"tok{i}" for i in range(40))

    # uncapped control: the near-copy is caught against the index
    idx1 = f"{workdir}/idx1"
    filter_batch_against_index(
        spark, spark.createDataFrame([(1, base)], schema), idx1
    )
    caught = filter_batch_against_index(
        spark, spark.createDataFrame([(10, base + " x")], schema), idx1, epoch_id=0
    )
    assert caught.count() == 0

    # capped: doc 1's band signatures sit in buckets of size 1, so a
    # cap of 0 excludes them all and the near-copy sails through —
    # the documented trade, made observable
    idx2 = f"{workdir}/idx2"
    filter_batch_against_index(
        spark, spark.createDataFrame([(1, base)], schema), idx2
    )
    missed = filter_batch_against_index(
        spark,
        spark.createDataFrame([(10, base + " x")], schema),
        idx2,
        epoch_id=0,
        max_band_collisions=0,
    )
    assert sorted(r.doc_id for r in missed.collect()) == [10]


def test_neardup_short_docs_pass_through(spark, workdir):
    """Docs too short to shingle (<3 tokens) cannot be near-dups under
    the word-3-gram definition — they must SURVIVE, not vanish, and
    their sentinel index rows must stay inert for real candidates."""
    from open_pulsar_spark.streaming.neardup_stream import (
        filter_batch_against_index,
    )

    idx = f"{workdir}/short-idx"
    base = " ".join(f"tok{i}" for i in range(40))
    batch = spark.createDataFrame(
        [(1, base), (2, "two tokens"), (3, None)],
        "doc_id LONG, text STRING",
    )
    kept = {r.doc_id for r in filter_batch_against_index(spark, batch, idx).collect()}
    assert kept == {1, 2, 3}
    # a later near-copy of doc 1 is still dropped; short docs repeat
    # (same ids would be same docs — use new ids) and still survive
    batch2 = spark.createDataFrame(
        [(10, base + " extra"), (11, "still short")], "doc_id LONG, text STRING"
    )
    kept2 = {
        r.doc_id for r in filter_batch_against_index(spark, batch2, idx).collect()
    }
    assert kept2 == {11}


def test_retry_results_dedupe_terminal_rows(spark, workdir):
    """A crash between the result append and the epoch marker can leave
    duplicate terminal rows; read_results keeps exactly one per task."""
    from open_pulsar_spark.streaming.retry_stream import (
        RESULT_SCHEMA,
        read_results,
    )

    rd = f"{workdir}/results"
    rows = [
        (1, "p", 0, "completed"),
        (1, "p", 0, "completed"),   # replayed append, same decision
        (2, "q", 3, "failed"),
        (2, "q", 4, "completed"),   # replay re-decided at a later attempt
    ]
    spark.createDataFrame(rows, RESULT_SCHEMA).write.mode("append").parquet(rd)
    out = {r.task_id: r for r in read_results(spark, rd).collect()}
    assert len(out) == 2
    assert out[1].status == "completed"
    # first decision wins: the attempt-3 'failed' predates the replay
    assert out[2].attempt == 3 and out[2].status == "failed"


def test_delete_from_index_forgets_document(spark, workdir):
    """Right-to-be-forgotten: after delete_from_index(doc_id), the
    doc's band rows are gone from the signature index AND a re-submitted
    copy of the deleted text is ADMITTED as new content, while near-dups
    of the surviving documents stay blocked."""
    from open_pulsar_spark.streaming.neardup_stream import (
        delete_from_index,
        filter_batch_against_index,
        read_index,
    )

    idx = f"{workdir}/del_idx"
    schema = "doc_id LONG, text STRING"
    keep_text = " ".join(f"tok{i}" for i in range(40))
    forget_text = " ".join(f"zzz{i}" for i in range(40))
    seed = spark.createDataFrame([(1, keep_text), (2, forget_text)], schema)
    kept = sorted(
        r.doc_id for r in filter_batch_against_index(spark, seed, idx).collect()
    )
    assert kept == [1, 2]

    n = delete_from_index(spark, idx, [2])
    # only doc 1's rows survive the rewrite
    remaining = {r.doc_id for r in read_index(spark, idx).select("doc_id").collect()}
    assert remaining == {1} and n > 0

    # a near-copy of the FORGOTTEN doc is admitted again; a near-copy
    # of the kept doc is still blocked
    probe = spark.createDataFrame(
        [(10, forget_text + " extra"), (11, keep_text + " extra")], schema
    )
    admitted = sorted(
        r.doc_id for r in filter_batch_against_index(spark, probe, idx).collect()
    )
    assert admitted == [10]

    # the crash-replay window: an epoch replay whose segment dir was
    # compacted away recomputes the batch FROM SOURCE and rewrites the
    # purged doc's rows — the durable tombstone must keep doc 2
    # invisible to the index read anyway
    filter_batch_against_index(
        spark, spark.createDataFrame([(2, forget_text)], schema), idx
    )
    resurrected = {
        r.doc_id for r in read_index(spark, idx).select("doc_id").collect()
    }
    assert 2 not in resurrected

    # ...and ROUTINE compaction physically scrubs the resurrected rows
    # (erasure wants the bytes gone, not just hidden): the raw store
    # holds no doc-2 row after compact_index, without any new delete
    from open_pulsar_spark.streaming.neardup_stream import (
        _INDEX_SCHEMA,
        compact_index,
    )
    from open_pulsar_spark.streaming.segments import read_segments

    compact_index(spark, idx)
    raw_ids = {
        r.doc_id
        for r in read_segments(spark, idx, _INDEX_SCHEMA)
        .select("doc_id")
        .collect()
    }
    assert 2 not in raw_ids


def test_delete_from_embedding_index_forgets_vector(spark, workdir):
    from open_pulsar_spark.streaming.embedding_stream import (
        delete_from_embedding_index,
        filter_embeddings_against_index,
        read_embedding_index,
    )

    idx = f"{workdir}/del_emb_idx"
    schema = "vec_id LONG, embedding ARRAY<FLOAT>"
    v_keep = [1.0] + [0.0] * 63
    v_forget = [0.0, 1.0] + [0.0] * 62
    seed = spark.createDataFrame([(1, v_keep), (2, v_forget)], schema)
    kept = sorted(
        r.vec_id
        for r in filter_embeddings_against_index(spark, seed, idx).collect()
    )
    assert kept == [1, 2]

    delete_from_embedding_index(spark, idx, [2])
    remaining = {
        r.vec_id
        for r in read_embedding_index(spark, idx).select("vec_id").collect()
    }
    assert remaining == {1}

    probe = spark.createDataFrame([(10, v_forget), (11, v_keep)], schema)
    admitted = sorted(
        r.vec_id
        for r in filter_embeddings_against_index(spark, probe, idx).collect()
    )
    assert admitted == [10]

    # crash-replay window: recomputed purged rows stay invisible
    filter_embeddings_against_index(
        spark, spark.createDataFrame([(2, v_forget)], schema), idx
    )
    resurrected = {
        r.vec_id
        for r in read_embedding_index(spark, idx).select("vec_id").collect()
    }
    assert 2 not in resurrected


def test_cms_stream_maintains_mergeable_frequency_sketch(spark, workdir):
    """Streaming CMS: the store accumulates per-epoch partial grids;
    estimates after two batches equal/exceed the true counts (CMS only
    overcounts), a replayed epoch never double-adds, and file-level
    compaction leaves estimates unchanged."""
    from open_pulsar_spark.operators.dedup import _py_shingles
    from open_pulsar_spark.streaming.cms_stream import (
        cms_estimate,
        read_cms,
        start_cms_stream,
        update_cms,
    )

    src, grid, ckpt = f"{workdir}/docs", f"{workdir}/grid", f"{workdir}/ck"
    schema = "doc_id LONG, text STRING"
    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "alpha beta gamma delta eta theta"
    spark.createDataFrame([(1, t1)], schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(2, t2), (3, t1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = start_cms_stream(spark, stream, grid, ckpt, compact_max_segments=2)
    q.processAllAvailable()
    q.stop()

    # exact per-doc-distinct counts for probe shingles
    sh1, sh2 = _py_shingles(t1), _py_shingles(t2)
    probes = sorted(sh1 | sh2)[:6]
    exact = {t: (t in sh1) * 2 + (t in sh2) for t in probes}  # doc3 == doc1
    est = {r.t: r.n_cms for r in cms_estimate(spark, grid, probes).collect()}
    for t in probes:
        assert est[t] >= exact[t], (t, est[t], exact[t])
    total_cells = read_cms(spark, grid).agg({"cnt": "sum"}).collect()[0][0]

    # replaying an epoch's update is a no-op (committed segment skips)
    batch1 = spark.createDataFrame([(1, t1)], schema)
    update_cms(spark, batch1, grid, epoch_id=0)
    total_after = read_cms(spark, grid).agg({"cnt": "sum"}).collect()[0][0]
    assert total_after == total_cells


def test_novelty_stream_matches_batch_query_in_corpus_order(spark, workdir):
    """The streaming novelty twin's contract: streaming the corpus in
    doc_id order (3 micro-batches) and unioning the per-batch outputs
    reproduces doc_ngram_novelty's batch result EXACTLY — the
    first-seen shingle index accumulated across epochs computes the
    same corpus-order min(doc_id) ownership the batch aggregate does."""
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.novelty_stream import (
        _OUT_SCHEMA,
        start_novelty_stream,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = f"{workdir}/docs"
    # three ascending doc_id slices, written in order (mod-time order
    # drives trigger order under maxFilesPerTrigger=1)
    from pyspark.sql import functions as F

    for lo, hi in ((0, 170), (170, 340), (340, 10**9)):
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = f"{workdir}/novelty_out"
    q = start_novelty_stream(
        spark,
        stream,
        index_path=f"{workdir}/novelty_index",
        out_path=out,
        checkpoint=f"{workdir}/ckpt",
    )
    q.processAllAvailable()
    q.stop()

    from open_pulsar_spark.streaming.segments import list_segments

    got = sorted(
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in spark.read.schema(_OUT_SCHEMA)
        .parquet(*list_segments(out))
        .collect()
    )
    want = sorted(
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in all_queries()["doc_ngram_novelty"](spark, SF_SMALL).collect()
    )
    assert got == want


def test_novelty_backfill_slices_are_idempotent(spark, workdir):
    """Backfill slices map to reserved negative epochs: rerunning a
    slice overwrites its own segments (no duplicate rows, no
    re-scoring drift), and a subsequent slice scores against the
    accumulated index exactly like the batch query in corpus order."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.novelty_stream import (
        _OUT_SCHEMA,
        backfill_novelty_index,
    )
    from open_pulsar_spark.streaming.segments import list_segments
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    idx, out = f"{workdir}/nidx", f"{workdir}/nout"
    s0 = docs.where(F.col("doc_id") < 250)
    s1 = docs.where(F.col("doc_id") >= 250)

    n0 = backfill_novelty_index(spark, s0, idx, out, slice_id=0)
    # rerun of slice 0: same count, same segment count (overwrite, not append)
    segs_before = len(list_segments(out))
    assert backfill_novelty_index(spark, s0, idx, out, slice_id=0) == n0
    assert len(list_segments(out)) == segs_before

    backfill_novelty_index(spark, s1, idx, out, slice_id=1)
    got = sorted(
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in spark.read.schema(_OUT_SCHEMA)
        .parquet(*list_segments(out))
        .collect()
    )
    want = sorted(
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in all_queries()["doc_ngram_novelty"](spark, SF_SMALL).collect()
    )
    assert got == want


def test_drift_stream_partials_fold_to_batch_drift(spark, workdir):
    """Mergeable centroid partials: streaming each snapshot half in two
    micro-batches and folding must reproduce embedding_centroid_drift
    BIT-IDENTICALLY (raw-sum partials are associative; rounded means
    would not be), and replaying a committed epoch is a no-op."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.drift_stream import (
        drift_between,
        update_drift_partials,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    embs = load_table(spark, SF_SMALL, "embeddings")
    old_half = embs.where(F.col("vec_id") % 2 == 0)
    new_half = embs.where(F.col("vec_id") % 2 == 1)
    a, b = f"{workdir}/drift_a", f"{workdir}/drift_b"

    # each half arrives as two epochs (arbitrary batching must not matter)
    update_drift_partials(spark, old_half.where(F.col("vec_id") < 250), a, 0)
    update_drift_partials(spark, old_half.where(F.col("vec_id") >= 250), a, 1)
    update_drift_partials(spark, new_half.where(F.col("vec_id") < 250), b, 0)
    update_drift_partials(spark, new_half.where(F.col("vec_id") >= 250), b, 1)

    got = [tuple(r) for r in drift_between(spark, a, b).collect()]
    want = [
        tuple(r)
        for r in all_queries()["embedding_centroid_drift"](
            spark, SF_SMALL
        ).collect()
    ]
    assert got == want

    # replay of a committed epoch: segment already committed -> no-op
    update_drift_partials(spark, old_half.where(F.col("vec_id") < 250), a, 0)
    assert [tuple(r) for r in drift_between(spark, a, b).collect()] == want


def test_drift_backfill_slices_fold_and_replay(spark, workdir):
    """Multi-slice backfill: two slices land on distinct reserved
    epochs (no (epoch,label,dim) collision at fold time — the bug the
    old shared epoch=-1 path had), a slice rerun is idempotent, and
    the folded drift still bit-matches the batch query."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.drift_stream import (
        backfill_drift_partials,
        drift_between,
        update_drift_partials,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    embs = load_table(spark, SF_SMALL, "embeddings")
    old_half = embs.where(F.col("vec_id") % 2 == 0)
    new_half = embs.where(F.col("vec_id") % 2 == 1)
    a, b = f"{workdir}/bf_a", f"{workdir}/bf_b"

    backfill_drift_partials(spark, old_half.where(F.col("vec_id") < 250), a, 0)
    backfill_drift_partials(spark, old_half.where(F.col("vec_id") >= 250), a, 1)
    backfill_drift_partials(spark, new_half, b, 0)
    # rerun of slice 0 overwrites its own segment -> no double count
    backfill_drift_partials(spark, old_half.where(F.col("vec_id") < 250), a, 0)

    got = [tuple(r) for r in drift_between(spark, a, b).collect()]
    want = [
        tuple(r)
        for r in all_queries()["embedding_centroid_drift"](
            spark, SF_SMALL
        ).collect()
    ]
    assert got == want

    with pytest.raises(ValueError):
        backfill_drift_partials(spark, old_half, a, -1)
    with pytest.raises(ValueError):
        update_drift_partials(spark, old_half, a, None)


def test_kmv_and_drift_streams_run_as_real_streaming_queries(spark, workdir):
    """KMV.start / start_drift_stream wire the partial
    maintenance as actual Structured Streaming queries (file source,
    maxFilesPerTrigger=1 → multiple epochs): after processAllAvailable
    the stores fold to the same numbers the batch steps produce, and
    auto-compaction (forced with max_segments=1) leaves them
    unchanged."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.drift_stream import (
        fold_centroids,
        start_drift_stream,
    )
    from open_pulsar_spark.streaming.kmv_stream import KMV, kmv_estimates
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text"
    )
    embs = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    dsrc = f"{workdir}/docs_src"
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(dsrc)
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(dsrc)
    kstore = f"{workdir}/kmv_live"
    q = KMV.start(
        spark,
        spark.readStream.schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(dsrc),
        kstore,
        f"{workdir}/kmv_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref_store = f"{workdir}/kmv_ref"
    KMV.update(spark, docs, ref_store, 0)
    assert [tuple(r) for r in kmv_estimates(spark, kstore).collect()] == [
        tuple(r) for r in kmv_estimates(spark, ref_store).collect()
    ]

    esrc = f"{workdir}/embs_src"
    embs.where(F.col("vec_id") < 250).coalesce(1).write.mode("append").parquet(esrc)
    embs.where(F.col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(esrc)
    dstore = f"{workdir}/drift_live"
    q2 = start_drift_stream(
        spark,
        spark.readStream.schema(
            "vec_id LONG, label INT, embedding ARRAY<FLOAT>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(esrc),
        dstore,
        f"{workdir}/drift_ck",
        compact_max_segments=1,
    )
    q2.processAllAvailable()
    q2.stop()
    from open_pulsar_spark.streaming.drift_stream import update_drift_partials

    ref2 = f"{workdir}/drift_ref"
    update_drift_partials(spark, embs, ref2, 0)
    got = sorted(tuple(r) for r in fold_centroids(spark, dstore).collect())
    want = sorted(tuple(r) for r in fold_centroids(spark, ref2).collect())
    assert got == want


def test_kmv_stream_folds_to_batch_estimate(spark, workdir):
    """Streaming KMV: delivering the corpus in three epochs and folding
    must reproduce source_kmv_distinct's estimates BIT-IDENTICALLY
    (bottom-k of a union is batching-invariant); a replayed epoch is a
    no-op, and a duplicated epoch-less backfill cannot change the
    estimates (the fold is duplicate-tolerant)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.kmv_stream import KMV, kmv_estimates
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/kmv_store"
    KMV.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    KMV.update(spark, docs.where(F.col("doc_id") % 3 == 1), store, 1)
    KMV.update(spark, docs.where(F.col("doc_id") % 3 == 2), store, 2)

    want = [
        (r.source, r.n_est)
        for r in all_queries()["source_kmv_distinct"](spark, SF_SMALL)
        .select("source", "n_est")
        .orderBy("source")
        .collect()
    ]
    got = [tuple(r) for r in kmv_estimates(spark, store).collect()]
    assert got == want

    # replay of a committed epoch: no-op
    KMV.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    # duplicated epoch-less backfill: value-idempotent (redundant rows,
    # same fold)
    KMV.update(spark, docs.where(F.col("doc_id") % 3 == 1), store, None)
    assert [tuple(r) for r in kmv_estimates(spark, store).collect()] == want


def test_dq_stream_folds_to_batch_counts(spark, workdir):
    """Streaming DQ ledger: delivering the corpus in three epochs and
    folding must reproduce the batch conditional-sum aggregate over
    the whole table exactly (the counts are additive); a replayed
    epoch is a no-op (overwrite, never double-add); epoch-less writes
    are refused (additive folds have no safe -1 sentinel). The two
    rules shared with the batch suite match dq_violation_counts'
    documents rows on the same table."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.dq_stream import DQ, DQ_STREAM_RULES, read_dq
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/dq_store"
    DQ.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    DQ.update(spark, docs.where(F.col("doc_id") % 3 == 1), store, 1)
    DQ.update(spark, docs.where(F.col("doc_id") % 3 == 2), store, 2)

    n_docs = docs.count()
    want = sorted(
        (
            name,
            docs.where(F.expr(pred)).count(),
            n_docs,
        )
        for name, pred in DQ_STREAM_RULES
    )
    got = [tuple(r) for r in read_dq(spark, store).collect()]
    assert got == want

    # replay of a committed epoch: no-op (never double-adds)
    DQ.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    assert [tuple(r) for r in read_dq(spark, store).collect()] == want

    # epoch-less writes are refused outright
    with pytest.raises(ValueError):
        DQ.update(spark, docs, store, None)

    # shared rules agree with the batch suite's documents rows
    batch = {
        r.rule: (r.n_violations, r.n_checked)
        for r in all_queries()["dq_violation_counts"](spark, SF_SMALL)
        .collect()
        if r.rule.startswith("documents_")
    }
    ledger = {t[0]: (t[1], t[2]) for t in got}
    for shared in ("documents_short_text", "documents_nchars_mismatch"):
        assert ledger[shared] == batch[shared]


def test_dq_stream_runs_as_real_streaming_query(spark, workdir):
    """DQ.start wires the ledger as an actual Structured
    Streaming query (file source, maxFilesPerTrigger=1 → multiple
    epochs): after processAllAvailable the fold equals the one-shot
    batch ledger, and forced auto-compaction (max_segments=1) leaves
    it unchanged (reads dedup on (epoch, rule) first)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.dq_stream import DQ, read_dq
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    src = f"{workdir}/docs_dqsrc"
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/dq_live"
    q = DQ.start(
        spark,
        spark.readStream.schema(
            "doc_id LONG, source STRING, text STRING, n_chars LONG"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/dq_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/dq_ref"
    DQ.update(spark, docs, ref, 0)
    got = [tuple(r) for r in read_dq(spark, store).collect()]
    want = [tuple(r) for r in read_dq(spark, ref).collect()]
    assert got == want


def test_posting_stream_folds_to_batch_index(spark, workdir):
    """Streaming posting index: delivering the corpus in three epochs
    and folding must reproduce term_posting_index's posting samples
    BIT-IDENTICALLY for every head term (bottom-k of a union is
    batching-invariant); a replayed epoch is a no-op, and a duplicated
    epoch-less backfill cannot change the samples (the fold is
    duplicate-tolerant). The serve-path `terms` filter returns the
    same rows for the probed subset."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.posting_stream import (
        read_postings,
        update_postings,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/posting_store"
    update_postings(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    update_postings(spark, docs.where(F.col("doc_id") % 3 == 1), store, 1)
    update_postings(spark, docs.where(F.col("doc_id") % 3 == 2), store, 2)

    want = {
        (r.term, r.posting_sample)
        for r in all_queries()["term_posting_index"](spark, SF_SMALL)
        .select("term", "posting_sample")
        .collect()
    }
    merged = {
        (r.term, r.posting_sample)
        for r in read_postings(spark, store).collect()
    }
    # the stream store maintains ALL terms; the batch query emits the
    # df head — every head sample must appear verbatim in the store
    assert want <= merged

    # replay of a committed epoch: no-op
    update_postings(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    # duplicated epoch-less backfill: value-idempotent
    update_postings(spark, docs.where(F.col("doc_id") % 3 == 1), store, None)
    again = {
        (r.term, r.posting_sample)
        for r in read_postings(spark, store).collect()
    }
    assert again == merged

    # serve path: probing two terms merges only those terms
    probe = sorted(t for t, _ in want)[:2]
    served = {
        (r.term, r.posting_sample)
        for r in read_postings(spark, store, terms=probe).collect()
    }
    assert served == {(t, s) for t, s in merged if t in set(probe)}


def test_posting_stream_delete_propagation(spark, workdir):
    """Right-to-be-forgotten on the posting store: purged doc_ids must
    vanish from every future posting_sample (the store carries raw
    doc_ids, unlike the hash-only kmv/cms/drift stores, so it needs
    the same RTBF path as the neardup/embedding indexes). Also covers
    the DataFrame-typed serve probe (broadcast semi-join path)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.posting_stream import (
        delete_from_posting_index,
        read_postings,
        update_postings,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/posting_rtbf"
    update_postings(spark, docs.where(F.col("doc_id") % 2 == 0), store, 0)
    update_postings(spark, docs.where(F.col("doc_id") % 2 == 1), store, 1)

    before = read_postings(spark, store)
    # snapshot the pre-delete partial rows (the fold's exact input)
    from open_pulsar_spark.streaming.posting_stream import _PARTIAL_SCHEMA
    from open_pulsar_spark.streaming.segments import read_segments

    partial_rows = (
        read_segments(spark, store, _PARTIAL_SCHEMA)
        .select("term", "doc_id")
        .toPandas()
    )
    partial_rows = spark.createDataFrame(
        partial_rows, "term STRING, doc_id LONG"
    )
    # pick a doc_id that actually appears in some sample
    victim = int(
        before.select(
            F.explode(F.split("posting_sample", ",")).alias("d")
        ).first().d
    )
    n = delete_from_posting_index(spark, store, [victim])
    assert n > 0
    after = read_postings(spark, store)
    leaked = after.where(
        F.array_contains(
            F.split("posting_sample", ","), F.lit(str(victim))
        )
    ).count()
    assert leaked == 0

    # exact contract: deletion anti-joins the PARTIAL rows, fold
    # unchanged — the purged samples are the fold of the pre-delete
    # partials minus the victim. (A fresh rebuild over surviving docs
    # can differ: per-batch bottom-k truncation already discarded
    # candidates a rebuild would keep — sketch deletion is lossy,
    # unlike the row-complete neardup index.)
    from open_pulsar_spark.operators.text import _posting_merge

    want_df = _posting_merge(
        partial_rows.where(F.col("doc_id") != victim).select(
            "term", "doc_id"
        )
    )
    got = sorted(tuple(r) for r in after.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want

    # the crash-replay window: an epoch replay whose segment dir was
    # compacted away recomputes the batch FROM SOURCE, purged rows
    # included — the durable tombstone must keep the victim unservable
    # anyway (the docstring's 'absolute' clause)
    update_postings(
        spark, docs.where(F.col("doc_id") == victim), store, None
    )
    replayed = read_postings(spark, store)
    assert (
        replayed.where(
            F.array_contains(
                F.split("posting_sample", ","), F.lit(str(victim))
            )
        ).count()
        == 0
    )

    # DataFrame-typed probe: same rows as the list-typed probe, and a
    # probe whose column is not named 'term' is normalized, not an error
    probe = [r.term for r in after.select("term").limit(3).collect()]
    probe_df = spark.createDataFrame([(t,) for t in probe], "ngram STRING")
    got_df = sorted(
        tuple(r) for r in read_postings(spark, store, terms=probe_df).collect()
    )
    got_list = sorted(
        tuple(r) for r in read_postings(spark, store, terms=probe).collect()
    )
    assert got_df == got_list and len(got_list) == len(set(probe))


def test_posting_stream_runs_as_real_streaming_query(spark, workdir):
    """start_posting_stream wires the partial maintenance as an actual
    Structured Streaming query (file source, maxFilesPerTrigger=1 →
    multiple epochs): after processAllAvailable the store folds to the
    same samples the one-shot batch step produces, and forced
    auto-compaction (max_segments=1) leaves them unchanged."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.posting_stream import (
        read_postings,
        start_posting_stream,
        update_postings,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text"
    )
    src = f"{workdir}/docs_psrc"
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/posting_live"
    q = start_posting_stream(
        spark,
        spark.readStream.schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/posting_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/posting_ref"
    update_postings(spark, docs, ref, 0)
    got = sorted(tuple(r) for r in read_postings(spark, store).collect())
    want = sorted(tuple(r) for r in read_postings(spark, ref).collect())
    assert got == want


def test_chunk_stream_folds_to_batch_stats(spark, workdir):
    """Streaming chunk store: delivering the corpus in three epochs
    and folding must reproduce multimodal_chunk_dedup over the whole
    table exactly (counts additive, blen max-mergeable); a replayed
    epoch is a no-op; epoch-less writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.multimodal import multimodal_chunk_dedup
    from open_pulsar_spark.streaming.chunk_stream import CHUNK, chunk_dedup_stats
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/chunk_store"
    for i in range(3):
        CHUNK.update(spark, docs.where(F.col("doc_id") % 3 == i), store, i)

    want = [tuple(r) for r in multimodal_chunk_dedup(spark, SF_SMALL).collect()]
    got = [tuple(r) for r in chunk_dedup_stats(spark, store).collect()]
    assert got == want

    # replayed epoch: overwrite, never double-add
    CHUNK.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    assert [tuple(r) for r in chunk_dedup_stats(spark, store).collect()] == want

    with pytest.raises(ValueError):
        CHUNK.update(spark, docs, store, None)


def test_chunk_stream_runs_as_real_streaming_query(spark, workdir):
    """CHUNK.start wired to a real file-source stream: the
    store after the stream drains equals the batch query over the
    same rows."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.multimodal import chunk_stats, chunk_counts
    from open_pulsar_spark.streaming.chunk_stream import CHUNK, chunk_dedup_stats
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").limit(60)
    src = f"{workdir}/chunk_src"
    docs.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = CHUNK.start(
        spark, stream, f"{workdir}/chunk_store2", f"{workdir}/chunk_ckpt"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    delivered = spark.read.parquet(src)
    want = [
        tuple(r)
        for r in chunk_stats(chunk_counts(delivered)).orderBy("kind").collect()
    ]
    got = [
        tuple(r)
        for r in chunk_dedup_stats(spark, f"{workdir}/chunk_store2").collect()
    ]
    assert got == want


def test_hll_stream_folds_to_batch_estimate(spark, workdir):
    """Streaming HLL: delivering the events in three epochs and folding
    must reproduce events_hll_distinct's estimates BIT-IDENTICALLY
    (register max is batching-invariant); a replayed epoch is a no-op,
    and a duplicated epoch-less backfill cannot move a register — the
    fold is idempotent outright, the strongest contract in the sketch
    family."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.hll_stream import HLL, hll_estimates
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/hll_store"
    for k in range(3):
        HLL.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        (r.event_type, r.hll_keys)
        for r in all_queries()["events_hll_distinct"](spark, SF_SMALL)
        .select("event_type", "hll_keys")
        .orderBy("event_type")
        .collect()
    ]
    got = [tuple(r) for r in hll_estimates(spark, store).collect()]
    assert got == want

    # replayed epoch: no-op; duplicated epoch-less backfill: idempotent
    HLL.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    HLL.update(spark, ev.where(F.col("event_id") % 3 == 1), store, None)
    assert [tuple(r) for r in hll_estimates(spark, store).collect()] == want


def test_cusum_stream_folds_to_batch_series(spark, workdir):
    """Streaming CUSUM: delivering the orders in three epochs and
    reading out must reproduce revenue_cusum_changepoint BIT-
    IDENTICALLY (day sums are additive; the statistic is computed by
    the shared cusum_series on the folded series); a replayed epoch is
    a no-op (overwrite, never double-add); epoch-less writes are
    refused (additive folds have no safe sentinel)."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.cusum_stream import CUSUM, cusum_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/cusum_store"
    for k in range(3):
        CUSUM.update(spark, orders.where(F.col("o_orderkey") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["revenue_cusum_changepoint"](spark, SF_SMALL)
        .collect()
    ]
    got = [tuple(r) for r in cusum_readout(spark, store).collect()]
    assert got == want

    CUSUM.update(spark, orders.where(F.col("o_orderkey") % 3 == 0), store, 0)
    assert [tuple(r) for r in cusum_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        CUSUM.update(spark, orders, store, None)


def test_hll_stream_runs_as_real_streaming_query(spark, workdir):
    """HLL.start wires the register maintenance as an actual
    Structured Streaming query (file source, maxFilesPerTrigger=1 →
    multiple epochs): after processAllAvailable the store folds to the
    same registers the one-shot batch step produces, and forced
    auto-compaction (max_segments=1) leaves them unchanged — the
    idempotent fold makes the compaction window trivially safe."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.hll_stream import HLL
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = f"{workdir}/ev_hsrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/hll_live"
    q = HLL.start(
        spark,
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/hll_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/hll_ref"
    HLL.update(spark, ev, ref, 0)
    got = sorted(tuple(r) for r in HLL.read(spark, store).collect())
    want = sorted(tuple(r) for r in HLL.read(spark, ref).collect())
    assert got == want


def test_zonemap_stream_folds_to_batch_maps(spark, workdir):
    """Streaming zone maps: delivering the events in three epochs and
    folding must equal the one-shot aggregate over the whole table
    (counts additive, envelopes idempotent) AND match
    events_zorder_layout's bucket frame on the shared columns; a
    replayed epoch is a no-op; epoch-less writes are refused (the
    additive count sets the contract)."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.zonemap_stream import ZONEMAP
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/zonemap_store"
    for k in range(3):
        ZONEMAP.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    got = sorted(tuple(r) for r in ZONEMAP.read(spark, store).collect())

    batch = (
        all_queries()["events_zorder_layout"](spark, SF_SMALL)
        .select("zbucket", "n_events", "z_min", "z_max")
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want

    ZONEMAP.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    assert sorted(tuple(r) for r in ZONEMAP.read(spark, store).collect()) == want

    with pytest.raises(ValueError):
        ZONEMAP.update(spark, ev, store, None)


def test_hll_stream_compaction_keeps_backfill_maxima(spark, workdir):
    """Regression (review finding): two epoch-less backfills share the
    -1 sentinel epoch and can hold DIFFERENT maxima for the same
    register; compaction's dedup key must therefore include the value
    column r, or dropDuplicates keeps an arbitrary row and the folded
    register max can silently shrink. Force a full compaction and
    check the fold is byte-identical to the pre-compaction fold."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.segments import compact_segments
    from open_pulsar_spark.streaming.hll_stream import HLL
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/hll_backfill_store"
    # two epoch-less backfills over DIFFERENT slices: same (epoch=-1,
    # type, j) keys, different r values across segments
    HLL.update(spark, ev.where(F.col("event_id") % 2 == 0), store, None)
    HLL.update(spark, ev.where(F.col("event_id") % 2 == 1), store, None)

    before = sorted(tuple(r) for r in HLL.read(spark, store).collect())
    compact_segments(
        spark,
        store,
        HLL.store_schema,
        HLL.dedup_keys,
        list(HLL.cluster),
    )
    after = sorted(tuple(r) for r in HLL.read(spark, store).collect())
    assert after == before


def test_cusum_stream_runs_as_real_streaming_query(spark, workdir):
    """CUSUM.start wires the day-partial maintenance as an
    actual Structured Streaming query (file source, one file per
    trigger → multiple epochs): after processAllAvailable the readout
    equals the batch query over the same orders, and forced
    auto-compaction leaves it unchanged (the fold dedups (epoch, day)
    before summing)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.cusum_stream import CUSUM, cusum_readout
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    src = f"{workdir}/orders_csrc"
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/cusum_live"
    q = CUSUM.start(
        spark,
        spark.readStream.schema(
            "o_orderkey LONG, o_orderdate TIMESTAMP, o_totalprice DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/cusum_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    want = [
        tuple(r)
        for r in all_queries()["revenue_cusum_changepoint"](spark, SF_SMALL)
        .collect()
    ]
    got = [tuple(r) for r in cusum_readout(spark, store).collect()]
    assert got == want


def test_zonemap_stream_runs_as_real_streaming_query(spark, workdir):
    """ZONEMAP.start as an actual streaming query: the folded
    store after processAllAvailable (with forced compaction) equals
    events_zorder_layout's bucket frame on the shared columns."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.zonemap_stream import ZONEMAP
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id"
    )
    src = f"{workdir}/ev_zsrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/zonemap_live"
    q = ZONEMAP.start(
        spark,
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/zonemap_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in ZONEMAP.read(spark, store).collect())
    want = sorted(
        tuple(r)
        for r in all_queries()["events_zorder_layout"](spark, SF_SMALL)
        .select("zbucket", "n_events", "z_min", "z_max")
        .collect()
    )
    assert got == want


def test_itemsets_stream_folds_to_batch_supports(spark, workdir):
    """Streaming itemsets: delivering the events in three epochs and
    reading out must reproduce event_type_itemsets BIT-IDENTICALLY —
    including pairs whose two items arrived in DIFFERENT epochs (the
    reason the partial is the distinct basket-item row, not a
    per-batch itemset count). A replayed epoch and a duplicated
    epoch-less backfill are both absorbed by the read-side distinct."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.itemsets_stream import (
        ITEMSETS,
        itemset_readout,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/itemsets_store"
    # split by event_id so most (user, day) baskets span epochs
    for k in range(3):
        ITEMSETS.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["event_type_itemsets"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in itemset_readout(spark, store).collect()]
    assert got == want
    # the level-2 rows specifically must be present and matched
    assert any(k == 2 for (_, k, _, _) in got)

    ITEMSETS.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    ITEMSETS.update(spark, ev.where(F.col("event_id") % 3 == 1), store, None)
    assert [tuple(r) for r in itemset_readout(spark, store).collect()] == want


def test_itemsets_stream_runs_as_real_streaming_query(spark, workdir):
    """ITEMSETS.start wires the item-store maintenance as an
    actual Structured Streaming query (file source, maxFilesPerTrigger
    =1 → multiple epochs): after processAllAvailable the folded store
    equals the one-shot batch fold, and forced auto-compaction
    (max_segments=1) leaves the readout unchanged (dedup keys carry
    the whole row, so compaction is purely physical)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.itemsets_stream import ITEMSETS
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = f"{workdir}/ev_isrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/itemsets_live"
    q = ITEMSETS.start(
        spark,
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/itemsets_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/itemsets_ref"
    ITEMSETS.update(spark, ev, ref, 0)
    got = sorted(tuple(r) for r in ITEMSETS.read(spark, store).collect())
    want = sorted(tuple(r) for r in ITEMSETS.read(spark, ref).collect())
    assert got == want


def test_sequences_stream_folds_to_batch_supports(spark, workdir):
    """Streaming sequences: the per-(user, type) occurrence extrema
    merge as min/max (idempotent, like the HLL registers), so three
    epochs + a replay + a duplicated epoch-less backfill all fold to
    the batch event_type_sequences output BIT-IDENTICALLY — including
    sequences whose t1 and t2 occurrences arrived in different
    epochs."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.sequences_stream import (
        SEQUENCES,
        sequence_readout,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/seq_store"
    for k in range(3):
        SEQUENCES.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["event_type_sequences"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in sequence_readout(spark, store).collect()]
    assert got == want

    SEQUENCES.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    SEQUENCES.update(spark, ev.where(F.col("event_id") % 3 == 1), store, None)
    assert [tuple(r) for r in sequence_readout(spark, store).collect()] == want


def test_sequences_stream_runs_as_real_streaming_query(spark, workdir):
    """SEQUENCES.start as an actual Structured Streaming query
    (file source, maxFilesPerTrigger=1): the folded extrema equal the
    one-shot batch fold, and forced auto-compaction (max_segments=1)
    leaves them unchanged — min/max re-fold makes the compaction
    window trivially safe."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.sequences_stream import SEQUENCES
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = f"{workdir}/ev_ssrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/seq_live"
    q = SEQUENCES.start(
        spark,
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/seq_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/seq_ref"
    SEQUENCES.update(spark, ev, ref, 0)
    got = sorted(tuple(r) for r in SEQUENCES.read(spark, store).collect())
    want = sorted(tuple(r) for r in SEQUENCES.read(spark, ref).collect())
    assert got == want


def test_quantile_stream_folds_to_batch_estimates(spark, workdir):
    """Streaming quantile sample: bottom-k-by-hash merges like KMV
    (bottom-k of a union == bottom-k of per-epoch bottom-ks), so three
    epochs + a replay + a duplicated epoch-less backfill fold to the
    batch value_quantile_sketch's `est` column BIT-IDENTICALLY."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.quantile_stream import (
        QUANTILE,
        quantile_readout,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/q_store"
    for k in range(3):
        QUANTILE.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        (r.p, r.est)
        for r in all_queries()["value_quantile_sketch"](spark, SF_SMALL)
        .select("p", "est")
        .orderBy("p")
        .collect()
    ]
    got = [tuple(r) for r in quantile_readout(spark, store).collect()]
    assert got == want

    QUANTILE.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    QUANTILE.update(spark, ev.where(F.col("event_id") % 3 == 1), store, None)
    assert [tuple(r) for r in quantile_readout(spark, store).collect()] == want


def test_quantile_stream_runs_as_real_streaming_query(spark, workdir):
    """QUANTILE.start as an actual Structured Streaming query:
    after processAllAvailable the folded sample equals the one-shot
    batch fold, and forced auto-compaction leaves it unchanged."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.quantile_stream import QUANTILE
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = f"{workdir}/ev_qsrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/q_live"
    q = QUANTILE.start(
        spark,
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG,"
            " event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/q_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/q_ref"
    QUANTILE.update(spark, ev, ref, 0)
    got = sorted(tuple(r) for r in QUANTILE.read(spark, store).collect())
    want = sorted(tuple(r) for r in QUANTILE.read(spark, ref).collect())
    assert got == want


def test_bloom_stream_folds_to_batch_filter(spark, workdir):
    """Streaming bloom: OR-merge is idempotent, so three epochs + a
    replay + a duplicated epoch-less backfill fold to the batch filter
    BIT-IDENTICALLY (same source_shingles/bloom_rows producers), and a
    membership probe answers 'definitely not' authoritatively."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.sketch import bloom_rows, source_shingles
    from open_pulsar_spark.streaming.bloom_stream import BLOOM, bloom_membership
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/bloom_store"
    for k in range(3):
        BLOOM.update(spark, docs.where(F.col("doc_id") % 3 == k), store, k)

    want = sorted(
        tuple(r) for r in bloom_rows(source_shingles(docs)).collect()
    )
    got = sorted(tuple(r) for r in BLOOM.read(spark, store).collect())
    assert got == want

    BLOOM.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    BLOOM.update(spark, docs.where(F.col("doc_id") % 3 == 1), store, None)
    assert sorted(tuple(r) for r in BLOOM.read(spark, store).collect()) == want

    # membership: a real shingle of some source is may_contain=true for
    # that source; a nonsense item is false for every source (no false
    # negatives; false positives are possible but not for this probe)
    sh = source_shingles(docs).first()
    probes = bloom_membership(
        spark, store, [sh.t, "zzz qqq xxx never-a-shingle"]
    ).collect()
    by = {(r.source, r.t): r.may_contain for r in probes}
    assert by[(sh.source, sh.t)] is True
    assert not any(
        v for (s, t), v in by.items() if t == "zzz qqq xxx never-a-shingle"
    )


def test_bloom_stream_runs_as_real_streaming_query(spark, workdir):
    """BLOOM.start as an actual Structured Streaming query:
    after processAllAvailable the folded filters equal the one-shot
    batch fold, and forced auto-compaction leaves them unchanged."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.bloom_stream import BLOOM
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text"
    )
    src = f"{workdir}/doc_bsrc"
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/bloom_live"
    q = BLOOM.start(
        spark,
        spark.readStream.schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/bloom_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/bloom_ref"
    BLOOM.update(spark, docs, ref, 0)
    got = sorted(tuple(r) for r in BLOOM.read(spark, store).collect())
    want = sorted(tuple(r) for r in BLOOM.read(spark, ref).collect())
    assert got == want


def test_scd2_stream_folds_to_batch_history(spark, workdir):
    """Streaming SCD2: versions of the same customer's history arrive
    across different epochs, and the folded change log re-assembles
    the SAME intervals as order_history_scd2 (via scd2_intervals) —
    including windows that a later epoch's version re-closed. Replays
    and epoch-less backfills are absorbed by the read-side distinct."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.scd2_stream import SCD2, scd2_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/scd2_store"
    # split by orderkey so one customer's versions span epochs: the
    # interval between two versions only closes once BOTH have arrived
    for k in range(3):
        SCD2.update(spark, orders.where(F.col("o_orderkey") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["order_history_scd2"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in scd2_readout(spark, store).collect()]
    assert got == want
    # the cross-epoch property actually bit: some closed window exists
    assert any(r[3] is not None for r in got)

    SCD2.update(spark, orders.where(F.col("o_orderkey") % 3 == 0), store, 0)
    SCD2.update(spark, orders.where(F.col("o_orderkey") % 3 == 1), store, None)
    assert [tuple(r) for r in scd2_readout(spark, store).collect()] == want


def test_scd2_stream_runs_as_real_streaming_query(spark, workdir):
    """SCD2.start as an actual Structured Streaming query: the
    folded change log equals the one-shot batch fold, and forced
    auto-compaction leaves it unchanged (full-row dedup keys make
    compaction purely physical)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.scd2_stream import SCD2
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    src = f"{workdir}/ord_csrc"
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/scd2_live"
    q = SCD2.start(
        spark,
        spark.readStream.schema(
            "o_orderkey LONG, o_custkey LONG, o_orderdate TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/scd2_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/scd2_ref"
    SCD2.update(spark, orders, ref, 0)
    got = sorted(tuple(r) for r in SCD2.read(spark, store).collect())
    want = sorted(tuple(r) for r in SCD2.read(spark, ref).collect())
    assert got == want


def test_stats_stream_folds_to_batch_estimates(spark, workdir):
    """Streaming ANALYZE: per-key counts are additive, so three epochs
    fold to the batch join_size_estimate table BIT-IDENTICALLY (shared
    join_size_report); a replayed epoch is a no-op by overwrite, and
    epoch-less writes are refused (additive stores have no safe
    sentinel)."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.stats_stream import STATS, stats_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/stats_store"
    for k in range(3):
        STATS.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["join_size_estimate"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in stats_readout(spark, store).collect()]
    assert got == want

    STATS.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    assert [tuple(r) for r in stats_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        STATS.update(spark, ev, store, None)


def test_stats_stream_runs_as_real_streaming_query(spark, workdir):
    """STATS.start as an actual Structured Streaming query: the
    folded ledger equals the one-shot batch fold, and forced
    auto-compaction leaves it unchanged (epoch-tagged rows keep the
    dedup-before-sum read double-count-safe through the window)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.stats_stream import STATS
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select("event_id", "user_id")
    src = f"{workdir}/ev_stsrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/stats_live"
    q = STATS.start(
        spark,
        spark.readStream.schema("event_id LONG, user_id LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/stats_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/stats_ref"
    STATS.update(spark, ev, ref, 0)
    got = sorted(tuple(r) for r in STATS.read(spark, store).collect())
    want = sorted(tuple(r) for r in STATS.read(spark, ref).collect())
    assert got == want


def test_cusum_ledger_also_serves_acf_readout(spark, workdir):
    """One additive day-cents ledger, two readouts: the same store the
    CUSUM test folds also reproduces revenue_acf BIT-IDENTICALLY via
    acf_readout (shared acf_from_daily) — statistics readouts compose
    over one ledger instead of each maintaining its own."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.cusum_stream import CUSUM, acf_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/ledger_store"
    for k in range(3):
        CUSUM.update(spark, orders.where(F.col("o_orderkey") % 3 == k), store, k)

    want = [
        tuple(r) for r in all_queries()["revenue_acf"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in acf_readout(spark, store).collect()]
    assert got == want


def test_cusum_ledger_also_serves_ewma_readout(spark, workdir):
    """One additive day-cents ledger, THREE readouts: the same store
    that serves CUSUM and ACF also reproduces the batch revenue_ewma
    BIT-IDENTICALLY via ewma_readout (shared ewma_from_daily — weeks
    are exact-integer rollups of the folded days)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.cusum_stream import CUSUM, ewma_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/ledger_store_ewma"
    for k in range(3):
        CUSUM.update(spark, orders.where(F.col("o_orderkey") % 3 == k), store, k)

    want = [
        tuple(r) for r in all_queries()["revenue_ewma"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in ewma_readout(spark, store).collect()]
    assert got == want


def test_benford_stream_folds_to_batch_report(spark, workdir):
    """Streaming Benford: per-digit counts are additive, so three
    epochs fold to the batch orders_benford_test table BIT-IDENTICALLY
    (shared benford_report — including the order-independent
    micro-unit χ² total); a replayed epoch is a no-op by overwrite,
    and epoch-less writes are refused (additive stores have no safe
    sentinel)."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.benford_stream import BENFORD, benford_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/benford_store"
    for k in range(3):
        BENFORD.update(
            spark, orders.where(F.col("o_orderkey") % 3 == k), store, k
        )

    want = [
        tuple(r)
        for r in all_queries()["orders_benford_test"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in benford_readout(spark, store).collect()]
    assert got == want

    BENFORD.update(spark, orders.where(F.col("o_orderkey") % 3 == 0), store, 0)
    assert [tuple(r) for r in benford_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        BENFORD.update(spark, orders, store, None)


def test_benford_stream_runs_as_real_streaming_query(spark, workdir):
    """BENFORD.start as an actual Structured Streaming query:
    the folded digit ledger equals the one-shot batch report over the
    same delivered rows."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import (
        benford_digit_counts,
        benford_report,
    )
    from open_pulsar_spark.streaming.benford_stream import BENFORD, benford_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    src = f"{workdir}/benford_src"
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/benford_live"
    q = BENFORD.start(
        spark,
        spark.readStream.schema("o_orderkey LONG, o_totalprice DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/benford_ck",
    )
    q.processAllAvailable()
    q.stop()
    want = [
        tuple(r)
        for r in benford_report(spark, benford_digit_counts(orders)).collect()
    ]
    got = [tuple(r) for r in benford_readout(spark, store).collect()]
    assert got == want


def test_benford_report_empty_input_is_empty(spark):
    """Degenerate input: zero orders → empty report on both engines
    (the oracle filters n > 0; the report guards the n=0 division)."""
    from open_pulsar_spark.operators.analytics import benford_report

    empty = spark.createDataFrame([], "digit INT, n_obs LONG")
    assert benford_report(spark, empty).count() == 0


def test_index_bucket_skew_profiles_the_live_index(spark, workdir):
    """index_bucket_skew over a stream-built signature index: the
    profile's totals must agree with an independent recount of the
    clean index view (n_items = band rows, cand_pairs = sum of
    per-bucket C(n,2)), a replayed epoch must not move the profile,
    and an empty store yields the empty-family row (n_buckets 0,
    null share)."""

    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.neardup_stream import (
        filter_batch_against_index,
        index_bucket_skew,
        read_index,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    empty_row = index_bucket_skew(spark, f"{workdir}/no_such_index").collect()[0]
    assert empty_row.n_buckets == 0 and empty_row.top10_mass_share is None

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    index = f"{workdir}/skew_index"
    for k in range(2):
        filter_batch_against_index(
            spark, docs.where(F.col("doc_id") % 2 == k), index, epoch_id=k
        )
    prof = index_bucket_skew(spark, index).collect()[0]
    clean = (
        read_index(spark, index)
        .dropDuplicates(["doc_id", "band"])
        .groupBy("band", "sig")
        .agg(F.count("*").alias("n"))
    )
    want = clean.agg(
        F.sum("n").alias("items"),
        F.count("*").alias("buckets"),
        F.max("n").alias("mx"),
        F.sum(F.expr("(n * (n - 1)) div 2")).alias("pairs"),
    ).collect()[0]
    assert prof.family == "index_band"
    assert prof.n_items == want.items
    assert prof.n_buckets == want.buckets
    assert prof.max_sz == want.mx
    # digit-STRING contract (round 8): >2^63-capable exact counters
    # never carry DECIMAL in a final schema
    assert prof.cand_pairs == str(int(want.pairs))

    # replay epoch 0: committed-epoch skip leaves the profile unchanged
    filter_batch_against_index(
        spark, docs.where(F.col("doc_id") % 2 == 0), index, epoch_id=0
    )
    assert index_bucket_skew(spark, index).collect()[0] == prof


def test_embedding_index_bucket_skew_matches_recount(spark, workdir):
    """embedding_index_bucket_skew over a stream-built bucket index:
    totals agree with an independent recount of the deduped index
    view, and the empty store yields the empty-family row."""

    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.embedding_stream import (
        embedding_index_bucket_skew,
        filter_embeddings_against_index,
        read_embedding_index,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    empty = embedding_index_bucket_skew(spark, f"{workdir}/no_emb_index")
    assert empty.collect()[0].n_buckets == 0

    vecs = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    index = f"{workdir}/emb_skew_index"
    for k in range(2):
        filter_embeddings_against_index(
            spark, vecs.where(F.col("vec_id") % 2 == k), index, epoch_id=k
        )
    prof = embedding_index_bucket_skew(spark, index).collect()[0]
    want = (
        read_embedding_index(spark, index)
        .dropDuplicates(["vec_id"])
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum("n").alias("items"),
            F.count("*").alias("buckets"),
            F.max("n").alias("mx"),
            F.sum(F.expr("(n * (n - 1)) div 2")).alias("pairs"),
        )
        .collect()[0]
    )
    assert prof.family == "index_sign_bucket"
    assert prof.n_items == want.items
    assert prof.n_buckets == want.buckets
    assert prof.max_sz == want.mx
    # digit-STRING contract (round 8): >2^63-capable exact counters
    # never carry DECIMAL in a final schema
    assert prof.cand_pairs == str(int(want.pairs))


def test_vocab_stream_folds_to_batch_zipf_fit(spark, workdir):
    """Streaming vocabulary: token counts are additive, so three
    epochs fold to the batch corpus_zipf_fit row BIT-IDENTICALLY
    (shared vocab_counts reduction + zipf_fit_from_vocab closing);
    a replayed epoch is a no-op by overwrite, and epoch-less writes
    are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.vocab_stream import VOCAB, zipf_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/vocab_store"
    for k in range(3):
        VOCAB.update(spark, docs.where(F.col("doc_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["corpus_zipf_fit"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in zipf_readout(spark, store).collect()]
    assert got == want

    VOCAB.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    assert [tuple(r) for r in zipf_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        VOCAB.update(spark, docs, store, None)


def test_vocab_stream_runs_as_real_streaming_query(spark, workdir):
    """VOCAB.start as an actual Structured Streaming query: the
    folded vocabulary equals the one-shot batch count over the same
    delivered rows."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.text import vocab_counts
    from open_pulsar_spark.streaming.vocab_stream import VOCAB
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = f"{workdir}/vocab_src"
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/vocab_live"
    q = VOCAB.start(
        spark,
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/vocab_ck",
    )
    q.processAllAvailable()
    q.stop()
    want = sorted(
        tuple(r) for r in vocab_counts(docs).collect()
    )
    got = sorted(tuple(r) for r in VOCAB.read(spark, store).collect())
    assert got == want


def test_winnow_stream_folds_to_batch_overlap_pairs(spark, workdir):
    """Streaming winnowing index: per-doc fingerprint sets are
    idempotent folds, so three epochs' index reproduces the batch
    winnowing_overlap_pairs BIT-IDENTICALLY over the union of
    delivered docs; a replayed epoch is a no-op; the at-ingest screen
    flags an unindexed near-copy against history."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.winnow_stream import (
        WINNOW,
        batch_overlaps_vs_history,
        overlap_pairs_readout,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    store = f"{workdir}/winnow_store"
    for k in range(3):
        WINNOW.update(
            spark, docs.where(F.col("doc_id") % 3 == k), store, k
        )

    want = [
        tuple(r)
        for r in all_queries()["winnowing_overlap_pairs"](
            spark, SF_SMALL
        ).collect()
    ]
    got = [tuple(r) for r in overlap_pairs_readout(spark, store).collect()]
    assert got == want and len(want) > 0

    WINNOW.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    assert [
        tuple(r) for r in overlap_pairs_readout(spark, store).collect()
    ] == want

    # at-ingest screen: a verbatim copy of an indexed doc (new id)
    # must flag against exactly its source's doc_id
    src = docs.where(F.col("doc_id") == want[0][0]).collect()[0]
    probe = spark.createDataFrame(
        [(10**9, src.text)], "doc_id LONG, text STRING"
    )
    hits = batch_overlaps_vs_history(spark, probe, store).collect()
    assert any(h.hist_id == src.doc_id for h in hits)


def test_psi_stream_matches_batch_closing_bit_for_bit(spark, workdir):
    """Streaming PSI: freeze the first time half as baseline, fold the
    second half through three epochs — the readout must BIT-MATCH the
    batch events_value_psi (whose self-baseline IS that same split,
    shared psi_from_cells); replayed epochs are no-ops; an empty
    ledger yields an empty readout (zero-side guard)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.psi_stream import (
        PSI,
        freeze_baseline,
        psi_readout,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select("ts", "value")
    piv = ev.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2")
    ).first()[0]
    base = ev.where(F.expr(f"unix_micros(ts) < {piv}"))
    cur = ev.where(F.expr(f"unix_micros(ts) >= {piv}"))

    baseline = f"{workdir}/psi_baseline"
    store = f"{workdir}/psi_store"
    freeze_baseline(spark, base, baseline)
    assert psi_readout(spark, baseline, store).count() == 0  # empty ledger

    cur = cur.withColumn("rnd", F.col("value") * 1000)
    for k in range(3):
        PSI.update(
            spark,
            cur.where(F.expr(f"cast(rnd as bigint) % 3 = {k}")),
            store,
            k,
        )
    want = [
        tuple(r)
        for r in all_queries()["events_value_psi"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in psi_readout(spark, baseline, store).collect()]
    assert got == want and len(want) > 0

    PSI.update(spark, cur.where(F.expr("cast(rnd as bigint) % 3 = 0")), store, 0)
    assert [
        tuple(r) for r in psi_readout(spark, baseline, store).collect()
    ] == want


def test_stats_ledger_also_serves_partition_plan(spark, workdir):
    """One additive per-key count ledger, two planning readouts: the
    same store that feeds join-size estimation reproduces the batch
    events_partition_plan BIT-IDENTICALLY via partition_plan_readout
    (shared partition_plan_from_counts)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.stats_stream import (
        STATS,
        partition_plan_readout,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/stats_store_plan"
    for k in range(3):
        STATS.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["events_partition_plan"](
            spark, SF_SMALL
        ).collect()
    ]
    got = [tuple(r) for r in partition_plan_readout(spark, store).collect()]
    assert got == want and len(want) > 0


def test_sequential_stream_folds_to_batch_monitor(spark, workdir):
    """Streaming experiment ledger: daily variant counts are additive,
    so three epochs fold to the batch ab_test_sequential table
    BIT-IDENTICALLY (shared tagging, reduction and boundary closing);
    a replayed epoch is a no-op; epoch-less writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.sequential_stream import (
        SEQUENTIAL,
        monitor_readout,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/exp_store"
    for k in range(3):
        SEQUENTIAL.update(
            spark, ev.where(F.col("event_id") % 3 == k), store, k
        )

    want = [
        tuple(r)
        for r in all_queries()["ab_test_sequential"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in monitor_readout(spark, store).collect()]
    assert got == want and len(want) > 0

    SEQUENTIAL.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    assert [tuple(r) for r in monitor_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        SEQUENTIAL.update(spark, ev, store, None)


def test_kanon_stream_folds_to_batch_audit(spark, workdir):
    """Live privacy monitor: per-QI-tuple class sizes are additive, so
    three epochs of customer rows fold to the batch
    customer_kanonymity_audit BIT-IDENTICALLY (shared
    kanonymity_report); a replayed epoch is a no-op by overwrite, and
    epoch-less writes are refused (additive stores have no safe
    sentinel)."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.kanon_stream import KANON, kanon_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    cust = load_table(spark, SF_SMALL, "customer")
    store = f"{workdir}/kanon_store"
    for k in range(3):
        KANON.update(spark, cust.where(F.col("c_custkey") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["customer_kanonymity_audit"](
            spark, SF_SMALL
        ).collect()
    ]
    got = [tuple(r) for r in kanon_readout(spark, store).collect()]
    assert got == want

    KANON.update(spark, cust.where(F.col("c_custkey") % 3 == 0), store, 0)
    assert [tuple(r) for r in kanon_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        KANON.update(spark, cust, store, None)


def test_ldiv_stream_folds_to_batch_audit(spark, workdir):
    """Live homogeneity monitor: per-(QI, band) sensitive-cell counts
    are additive, so three epochs of customer rows fold to the batch
    customer_ldiversity_audit BIT-IDENTICALLY (shared
    ldiversity_report); a replayed epoch is a no-op by overwrite, and
    epoch-less writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.kanon_stream import LDIV, ldiv_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    cust = load_table(spark, SF_SMALL, "customer")
    store = f"{workdir}/ldiv_store"
    for k in range(3):
        LDIV.update(spark, cust.where(F.col("c_custkey") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["customer_ldiversity_audit"](
            spark, SF_SMALL
        ).collect()
    ]
    got = [tuple(r) for r in ldiv_readout(spark, store).collect()]
    assert got == want and len(want) > 0

    LDIV.update(spark, cust.where(F.col("c_custkey") % 3 == 0), store, 0)
    assert [tuple(r) for r in ldiv_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        LDIV.update(spark, cust, store, None)


def test_kanon_stream_runs_as_real_streaming_query(spark, workdir):
    """KANON.start as an actual Structured Streaming query: the
    folded class-size ledger equals the one-shot batch fold, and forced
    auto-compaction leaves it unchanged (epoch-tagged rows keep the
    dedup-before-sum read double-count-safe through the window)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.kanon_stream import KANON
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    cust = load_table(spark, SF_SMALL, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    src = f"{workdir}/cust_kasrc"
    cust.where(F.col("c_custkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    cust.where(F.col("c_custkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/kanon_live"
    q = KANON.start(
        spark,
        spark.readStream.schema(
            "c_custkey LONG, c_nationkey INT, c_mktsegment STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/kanon_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/kanon_ref"
    KANON.update(spark, cust, ref, 0)
    got = sorted(tuple(r) for r in KANON.read(spark, store).collect())
    want = sorted(tuple(r) for r in KANON.read(spark, ref).collect())
    assert got == want


def test_cusum_ledger_also_serves_bootstrap_readout(spark, workdir):
    """One additive day-cents ledger, FOUR readouts: the same store
    that serves CUSUM/ACF/EWMA also reproduces the batch
    revenue_bootstrap_ci BIT-IDENTICALLY via bootstrap_readout (shared
    bootstrap_ci_from_daily — replicate weights hash the epoch day, so
    the ledger's fold cannot change the draws)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.cusum_stream import CUSUM, bootstrap_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/boot_ledger"
    for k in range(3):
        CUSUM.update(
            spark, orders.where(F.col("o_orderkey") % 3 == k), store, k
        )

    want = [
        tuple(r)
        for r in all_queries()["revenue_bootstrap_ci"](
            spark, SF_SMALL
        ).collect()
    ]
    got = [tuple(r) for r in bootstrap_readout(spark, store).collect()]
    assert got == want


def test_cusum_ledger_also_serves_conformal_readout(spark, workdir):
    """One additive day-cents ledger, FIVE readouts: the folded store
    reproduces the split-conformal coverage table BIT-IDENTICALLY vs
    the shared conformal_from_daily run over a direct batch scan of
    the same orders (the batch QUERY scores events values — the
    contract here is ledger-fold == batch-scan on the ledger's own
    source, the read_daily pattern)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import (
        conformal_from_daily,
        daily_revenue_cents,
    )
    from open_pulsar_spark.streaming.cusum_stream import CUSUM, conformal_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/conf_ledger"
    for k in range(3):
        CUSUM.update(
            spark, orders.where(F.col("o_orderkey") % 3 == k), store, k
        )

    batch_daily = daily_revenue_cents(orders).select(
        F.expr("datediff(day, date '1970-01-01')").cast("bigint").alias(
            "ed"
        ),
        "cents",
    )
    want = [
        tuple(r)
        for r in conformal_from_daily(
            spark, batch_daily, pin_ns="conf_batch_twin"
        ).collect()
    ]
    got = [tuple(r) for r in conformal_readout(spark, store).collect()]
    assert got == want and len(want) > 0


def test_cusum_ledger_also_serves_holt_readout(spark, workdir):
    """The folded day-cents ledger reproduces the batch
    revenue_holt_forecast BIT-IDENTICALLY via holt_readout (shared
    holt_from_daily — the 2-state integer recurrence folds the same
    weekly series whatever the batching)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.cusum_stream import CUSUM, holt_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/holt_ledger"
    for k in range(3):
        CUSUM.update(
            spark, orders.where(F.col("o_orderkey") % 3 == k), store, k
        )

    want = [
        tuple(r)
        for r in all_queries()["revenue_holt_forecast"](
            spark, SF_SMALL
        ).collect()
    ]
    got = [tuple(r) for r in holt_readout(spark, store).collect()]
    assert got == want and len(want) > 0


def test_bm25_stream_folds_to_batch_ranking(spark, workdir):
    """Streaming sparse index: per-(doc, term) tf counts are additive,
    so three epochs of document text fold to the batch bm25_topk
    ranking BIT-IDENTICALLY (shared bm25_from_tf — df, dl and avgdl
    all derive from the same folded rows); a replayed epoch is a
    no-op by overwrite, and epoch-less writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.bm25_stream import BM25, bm25_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    store = f"{workdir}/bm25_store"
    for k in range(3):
        BM25.update(spark, docs.where(F.col("doc_id") % 3 == k), store, k)

    want = [
        tuple(r) for r in all_queries()["bm25_topk"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in bm25_readout(spark, store).collect()]
    assert got == want

    BM25.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    assert [tuple(r) for r in bm25_readout(spark, store).collect()] == want

    with pytest.raises(ValueError):
        BM25.update(spark, docs, store, None)


def test_lww_store_resolves_by_epoch_and_tolerates_replay(spark, workdir):
    """The LWW keyed store (third fold class: pick-max-epoch, not sum
    or max-of-value): three CDC epochs — base upserts, then updates,
    then deletes — fold to exactly the per-key last-writer outcome; a
    replayed epoch is a no-op by overwrite; epoch-less writes are
    refused (they have no position in the last-writer order)."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.lww_stream import (
        read_current,
        update_lww,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    o = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    base = o.where(F.col("k") % 4 != 0).select(
        "k", F.lit("U").alias("op"), "cents"
    )
    upd = o.where(F.col("k") % 10 == 0).select(
        "k", F.lit("U").alias("op"), (F.col("cents") + 1).alias("cents")
    )
    dele = o.where(F.col("k") % 17 == 0).select(
        "k", F.lit("D").alias("op"), F.lit(None).cast("long").alias("cents")
    )
    store = f"{workdir}/lww_store"
    update_lww(spark, base, store, 0)
    update_lww(spark, upd, store, 1)
    update_lww(spark, dele, store, 2)

    # independent expectation: last touching epoch wins per key
    want_df = (
        o.where((F.col("k") % 4 != 0) | (F.col("k") % 10 == 0))
        .where(F.col("k") % 17 != 0)
        .select(
            "k",
            F.when(F.col("k") % 10 == 0, F.col("cents") + 1)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
    )
    want = sorted(tuple(r) for r in want_df.collect())
    got = sorted(tuple(r) for r in read_current(spark, store).collect())
    assert got == want

    # replaying an old epoch cannot resurrect deleted keys or roll back
    update_lww(spark, base, store, 0)
    got2 = sorted(tuple(r) for r in read_current(spark, store).collect())
    assert got2 == want

    with pytest.raises(ValueError):
        update_lww(spark, base, store, None)


def test_lww_stream_runs_as_real_streaming_query(spark, workdir):
    """start_lww_stream as an actual Structured Streaming query, with
    forced compaction: per-key last-writer resolution survives the
    segment rewrite because epochs travel with the rows."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.lww_stream import (
        read_current,
        start_lww_stream,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    o = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # file 1: upsert everything; file 2: delete k%3==0 (seq orders the
    # two change kinds when both land in one micro-batch)
    src = f"{workdir}/lww_src"
    o.select(
        "k", F.lit("U").alias("op"), "cents", F.lit(0).cast("long").alias("seq")
    ).coalesce(1).write.mode("append").parquet(src)
    o.where(F.col("k") % 3 == 0).select(
        "k",
        F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("cents"),
        F.lit(1).cast("long").alias("seq"),
    ).coalesce(1).write.mode("append").parquet(src)
    store = f"{workdir}/lww_live"
    q = start_lww_stream(
        spark,
        spark.readStream.schema("k LONG, op STRING, cents LONG, seq LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/lww_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    want = sorted(
        tuple(r)
        for r in o.where(F.col("k") % 3 != 0).select("k", "cents").collect()
    )
    got = sorted(tuple(r) for r in read_current(spark, store).collect())
    assert got == want


def test_active_stream_folds_to_batch_dashboard(spark, workdir):
    """Streaming engagement dashboard: (user, day) membership is
    set-idempotent, so three epochs of events fold to the batch
    events_dau_wau_mau BIT-IDENTICALLY (shared
    dau_wau_mau_from_user_days); replays and even epoch-less
    backfills are harmless by idempotence."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.active_stream import ACTIVE, dau_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/active_store"
    for k in range(3):
        ACTIVE.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["events_dau_wau_mau"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in dau_readout(spark, store).collect()]
    assert got == want

    # replay + an epoch-less duplicate backfill: both no-ops here
    ACTIVE.update(spark, ev.where(F.col("event_id") % 3 == 0), store, 0)
    ACTIVE.update(spark, ev.where(F.col("event_id") % 5 == 0), store, None)
    assert [tuple(r) for r in dau_readout(spark, store).collect()] == want


def test_lww_asof_readout_matches_batch_snapshot(spark, workdir):
    """TIME-TRAVEL over the LWW ledger: the SCD2 version events of
    orders_asof_snapshot's tracked customers, folded epoch-by-epoch
    (half-year CDC batches), read back AS OF the epoch containing the
    batch query's {ASOF_TS} — and the readout reconstructs the batch
    snapshot BIT-IDENTICALLY: live version, live-since date, age and
    version count per customer (the stats_stream/kanon_stream
    bit-match pattern applied to the pick-max fold class)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import ASOF_TS
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.lww_stream import read_asof, update_lww
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    # half-year CDC boundaries; a version dated EXACTLY on a boundary
    # belongs to the earlier epoch (strict >), so "epoch <= as_of"
    # reproduces the snapshot's INCLUSIVE valid_from <= T containment
    boundaries = [
        f"{y}-{m}-01 00:00:00"
        for y in range(1992, 2000)
        for m in ("01", "07")
    ]
    epoch_expr = "CAST(" + " + ".join(
        f"(CASE WHEN o_orderdate > timestamp'{b}' THEN 1 ELSE 0 END)"
        for b in boundaries
    ) + " AS LONG)"
    as_of_epoch = sum(b < ASOF_TS for b in boundaries)

    o = load_table(spark, SF_SMALL, "orders").where(F.col("o_custkey") < 50)
    # seq orders versions by (valid_from, orderkey) inside an epoch —
    # unix seconds * 1e7 + orderkey stays well under 2^63 at test keys
    changes = o.select(
        F.col("o_custkey").alias("k"),
        F.lit("U").alias("op"),
        F.col("o_orderkey").cast("long").alias("cents"),
        (
            F.unix_timestamp("o_orderdate") * F.lit(10000000)
            + F.col("o_orderkey")
        ).cast("long").alias("seq"),
        F.expr(epoch_expr).alias("ep"),
    )
    store = f"{workdir}/lww_asof_store"
    epochs = sorted(
        r.ep for r in changes.select("ep").distinct().collect()
    )
    for e in epochs:
        update_lww(
            spark, changes.where(F.col("ep") == e).drop("ep"), store, int(e)
        )

    asof_date = ASOF_TS.split(" ")[0]
    got_df = read_asof(spark, store, as_of_epoch).select(
        F.col("k").alias("o_custkey"),
        F.col("cents").alias("live_orderkey"),
        F.date_format(
            F.from_unixtime(F.expr("seq div 10000000")), "yyyy-MM-dd"
        ).alias("live_since"),
        F.datediff(
            F.lit(asof_date).cast("date"),
            F.to_date(F.from_unixtime(F.expr("seq div 10000000"))),
        ).cast("bigint").alias("live_age_days"),
        F.col("n_versions").alias("n_versions_asof"),
    )
    want = sorted(
        tuple(r)
        for r in all_queries()["orders_asof_snapshot"](
            spark, SF_SMALL
        ).collect()
    )
    got = sorted(tuple(r) for r in got_df.collect())
    assert want and got == want

    # one epoch earlier the ledger answers a DIFFERENT question (the
    # point of time travel): every readout row predates the boundary
    prev = read_asof(spark, store, as_of_epoch - 1)
    assert prev.where(F.col("epoch") > as_of_epoch - 1).count() == 0


def test_active_stream_growth_readout_matches_batch(spark, workdir):
    """Streaming growth accounting: the same set-idempotent (user, day)
    membership ledger that serves the DAU dashboard also serves the
    new/retained/resurrected/dormant ledger — folded over three
    epochs it bit-matches the batch user_growth_accounting (shared
    growth_accounting_from_user_days close), and replays plus an
    epoch-less backfill are no-ops by idempotence."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.active_stream import ACTIVE, growth_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/growth_store"
    for k in range(3):
        ACTIVE.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["user_growth_accounting"](
            spark, SF_SMALL
        ).collect()
    ]
    got = [tuple(r) for r in growth_readout(spark, store).collect()]
    assert got == want

    ACTIVE.update(spark, ev.where(F.col("event_id") % 3 == 1), store, 1)
    ACTIVE.update(spark, ev.where(F.col("event_id") % 7 == 0), store, None)
    assert [
        tuple(r) for r in growth_readout(spark, store).collect()
    ] == want


def test_pchart_stream_folds_to_batch_chart(spark, workdir):
    """Streaming SPC: the additive (day, events, errors) ledger folded
    over three epochs serves a control chart that bit-matches the
    batch error_rate_pchart (shared pchart_from_daily close — center
    line and 3σ band need the GLOBAL average, which the ledger gives
    without rescanning history). Replays are no-ops by epoch
    overwrite; epoch-less additive writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.pchart_stream import PCHART, pchart_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/pchart_store"
    for k in range(3):
        PCHART.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["error_rate_pchart"](spark, SF_SMALL).collect()
    ]
    got = [tuple(r) for r in pchart_readout(spark, store).collect()]
    assert got == want

    PCHART.update(spark, ev.where(F.col("event_id") % 3 == 2), store, 2)
    assert [tuple(r) for r in pchart_readout(spark, store).collect()] == want

    with pytest.raises(ValueError, match="additive"):
        PCHART.update(spark, ev, store, None)


def test_backlog_stream_folds_to_batch_curve(spark, workdir):
    """Streaming backlog: the additive (day, opened, closed) ledger
    folded over three epochs of resolved order spans serves a depth
    curve that bit-matches the batch orders_backlog_depth (shared
    backlog_from_daily close — the running sum and the all-time peak
    need GLOBAL state, which the ledger gives without rescanning every
    open interval). Replays are no-ops by epoch overwrite; epoch-less
    additive writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import order_spans
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.backlog_stream import BACKLOG, backlog_readout
    from tests.conftest import SF_SMALL

    spans = order_spans(spark, SF_SMALL)
    store = f"{workdir}/backlog_store"
    for k in range(3):
        BACKLOG.update(
            spark, spans.where(F.col("o_orderkey") % 3 == k), store, k
        )

    want = [
        tuple(r)
        for r in all_queries()["orders_backlog_depth"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want, "batch backlog curve must be non-empty"
    got = [tuple(r) for r in backlog_readout(spark, store).collect()]
    assert got == want

    BACKLOG.update(
        spark, spans.where(F.col("o_orderkey") % 3 == 2), store, 2
    )
    assert [tuple(r) for r in backlog_readout(spark, store).collect()] == want

    with pytest.raises(ValueError, match="additive"):
        BACKLOG.update(spark, spans, store, None)


def test_fano_stream_folds_to_batch_dispersion(spark, workdir):
    """Streaming dispersion: the additive (type, hour) count ledger
    folded over three epochs serves a Fano readout that bit-matches
    the batch events_hourly_fano (shared fano_from_hourly close — the
    moments and the hour span both come from the ledger). Replays are
    no-ops by epoch overwrite; epoch-less additive writes are
    refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.fano_stream import FANO, fano_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    store = f"{workdir}/fano_store"
    for k in range(3):
        FANO.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["events_hourly_fano"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want, "batch fano readout must be non-empty"
    got = [tuple(r) for r in fano_readout(spark, store).collect()]
    assert got == want

    FANO.update(spark, ev.where(F.col("event_id") % 3 == 2), store, 2)
    assert [tuple(r) for r in fano_readout(spark, store).collect()] == want

    # SECOND readout off the SAME ledger (one ledger, two readouts):
    # the weekday/weekend lift bit-matches the batch query too
    from open_pulsar_spark.streaming.fano_stream import mix_readout

    want_mix = [
        tuple(r)
        for r in all_queries()["weekday_weekend_mix"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want_mix
    assert [tuple(r) for r in mix_readout(spark, store).collect()] == want_mix

    with pytest.raises(ValueError, match="additive"):
        FANO.update(spark, ev, store, None)


def test_trade_stream_folds_to_batch_matrix(spark, workdir):
    """Streaming trade flows: the additive (cust_nation, supp_nation)
    ledger folded over three epochs of attributed lines serves a
    matrix that bit-matches the batch nation_trade_matrix (shared
    trade_matrix_from_flows close — the row-share ppm needs each
    customer-nation row's GLOBAL total, which the ledger gives without
    rescanning the joined fact). Replays are no-ops by epoch
    overwrite; epoch-less additive writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import attributed_trade_lines
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.trade_stream import TRADE, trade_readout
    from tests.conftest import SF_SMALL

    lines = attributed_trade_lines(spark, SF_SMALL)
    store = f"{workdir}/trade_store"
    for k in range(3):
        TRADE.update(
            spark, lines.where(F.col("l_orderkey") % 3 == k), store, k
        )

    want = [
        tuple(r)
        for r in all_queries()["nation_trade_matrix"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want, "batch trade matrix must be non-empty"
    got = [tuple(r) for r in trade_readout(spark, store).collect()]
    assert got == want

    TRADE.update(
        spark, lines.where(F.col("l_orderkey") % 3 == 2), store, 2
    )
    assert [tuple(r) for r in trade_readout(spark, store).collect()] == want

    with pytest.raises(ValueError, match="additive"):
        TRADE.update(spark, lines, store, None)


def test_risk_stream_folds_to_batch_tail_risk(spark, workdir):
    """Streaming tail risk (VERDICT r10 task #4): the additive
    purchase-cents histogram ledger folded over three epochs serves a
    VaR95/CVaR95 readout that bit-matches the batch
    purchase_value_tail_risk (shared tail_risk_from_cents_hist close —
    the rank-k boundary bucket and tail mean both come off the
    ledger). Replays are no-ops by epoch overwrite; epoch-less
    additive writes are refused; an empty store reads as the n=0
    null-stat row."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.risk_stream import RISK, risk_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    store = f"{workdir}/risk_store"
    # empty store → the batch query's n=0 contract row
    assert [tuple(r) for r in risk_readout(spark, store).collect()] == [
        (0, 0, None, 0, None)
    ]

    ev = load_table(spark, SF_SMALL, "events")
    for k in range(3):
        RISK.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["purchase_value_tail_risk"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want and want[0][0] > 0, "batch tail risk must see purchases"
    got = [tuple(r) for r in risk_readout(spark, store).collect()]
    assert got == want

    # replaying a committed epoch is a no-op (segment overwrite)
    RISK.update(spark, ev.where(F.col("event_id") % 3 == 2), store, 2)
    assert [tuple(r) for r in risk_readout(spark, store).collect()] == want

    with pytest.raises(ValueError, match="additive"):
        RISK.update(spark, ev, store, None)


def test_lag_stream_folds_to_batch_quantiles(spark, workdir):
    """Streaming conversion lags: the per-user firsts ledger min-merged
    over three epochs serves a p50/p90/max readout that bit-matches
    the batch conversion_lag_quantiles (shared
    lag_quantiles_from_firsts close). min-merge is idempotent, so BOTH
    an epoch replay AND an epoch-less backfill of already-delivered
    rows are no-ops — the strongest replay contract in the family
    (each user's first view and first purchase may even arrive in
    DIFFERENT batches; the ledger min-merges them)."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.lag_stream import LAG, lag_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    store = f"{workdir}/lag_store"
    # empty store → the batch query's zero-converter all-NULL rows
    assert [tuple(r) for r in lag_readout(spark, store).collect()] == [
        ("max", None, None),
        ("p50", None, None),
        ("p90", None, None),
    ]

    ev = load_table(spark, SF_SMALL, "events")
    # split by EVENT TYPE as well as id so a user's view and purchase
    # land in different epochs — the min-merge must reunite them
    for k in range(3):
        LAG.update(spark, ev.where(F.col("event_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["conversion_lag_quantiles"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want[0][2] and want[0][2] > 0, "fixture must have converters"
    got = [tuple(r) for r in lag_readout(spark, store).collect()]
    assert got == want

    # epoch replay: no-op by segment overwrite
    LAG.update(spark, ev.where(F.col("event_id") % 3 == 1), store, 1)
    assert [tuple(r) for r in lag_readout(spark, store).collect()] == want

    # epoch-LESS backfill of already-delivered rows: still a no-op —
    # min-merge is idempotent (additive stores must refuse this)
    LAG.update(spark, ev.where(F.col("event_id") % 3 == 0), store, None)
    assert [tuple(r) for r in lag_readout(spark, store).collect()] == want


def test_mk_stream_folds_to_batch_trend(spark, workdir):
    """Streaming Mann-Kendall: the additive (segment, week) revenue
    ledger folded over three epochs of attributed order lines serves a
    trend readout that bit-matches the batch
    segment_revenue_mann_kendall (shared mann_kendall_from_weekly
    close — the pair-sign S statistic needs every week's FULL cent
    total, which the ledger gives without rescanning the fact).
    Replays are no-ops by epoch overwrite; epoch-less additive writes
    are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import attributed_order_cents
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.mk_stream import MK, mk_readout
    from tests.conftest import SF_SMALL

    lines = attributed_order_cents(spark, SF_SMALL)
    store = f"{workdir}/mk_store"
    # split on the cent value so single weeks accumulate ACROSS epochs
    # — the additive fold must reassemble each week's exact total
    for k in range(3):
        MK.update(spark, lines.where(F.col("cents") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["segment_revenue_mann_kendall"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want, "batch trend readout must be non-empty"
    got = [tuple(r) for r in mk_readout(spark, store).collect()]
    assert got == want

    MK.update(spark, lines.where(F.col("cents") % 3 == 1), store, 1)
    assert [tuple(r) for r in mk_readout(spark, store).collect()] == want

    with pytest.raises(ValueError, match="additive"):
        MK.update(spark, lines, store, None)


def test_ks_stream_folds_to_batch_matrix(spark, workdir):
    """Streaming KS drift: the additive (source, length) count ledger
    folded over three epochs of documents serves a pairwise-KS matrix
    that bit-matches the batch source_length_ks_matrix (shared
    ks_matrix_from_counts close — the ECDFs need each source's FULL
    length distribution, which the ledger gives without rescanning
    the corpus). Replays are no-ops by epoch overwrite; epoch-less
    additive writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.ks_stream import KS, ks_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    store = f"{workdir}/ks_store"
    for k in range(3):
        KS.update(spark, docs.where(F.col("doc_id") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["source_length_ks_matrix"](
            spark, SF_SMALL
        ).collect()
    ]
    assert want, "batch KS matrix must be non-empty"
    got = [tuple(r) for r in ks_readout(spark, store).collect()]
    assert got == want

    KS.update(spark, docs.where(F.col("doc_id") % 3 == 0), store, 0)
    assert [tuple(r) for r in ks_readout(spark, store).collect()] == want

    with pytest.raises(ValueError, match="additive"):
        KS.update(spark, docs, store, None)


def test_risk_stream_runs_as_real_streaming_query(spark, workdir):
    """RISK.start wires the cents-ledger maintenance as an
    actual Structured Streaming query (file source,
    maxFilesPerTrigger=1 → multiple epochs): after
    processAllAvailable the store's readout bit-matches the one-shot
    batch fold, and forced auto-compaction (max_segments=1) leaves it
    unchanged."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.risk_stream import RISK, risk_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "value"
    )
    src = f"{workdir}/ev_rsrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/risk_live"
    q = RISK.start(
        spark,
        spark.readStream.schema("event_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/risk_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/risk_ref"
    RISK.update(spark, ev, ref, 0)
    got = [tuple(r) for r in risk_readout(spark, store).collect()]
    want = [tuple(r) for r in risk_readout(spark, ref).collect()]
    assert got == want and want[0][0] > 0


def test_lag_stream_runs_as_real_streaming_query(spark, workdir):
    """LAG.start as an actual Structured Streaming query: the
    min-merged firsts ledger folds across real micro-batches (and
    through forced compaction) to the same readout as the one-shot
    batch fold."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.lag_stream import LAG, lag_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    src = f"{workdir}/ev_lsrc"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/lag_live"
    q = LAG.start(
        spark,
        spark.readStream.schema(
            "event_id LONG, user_id LONG, ts TIMESTAMP, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/lag_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/lag_ref"
    LAG.update(spark, ev, ref, 0)
    got = [tuple(r) for r in lag_readout(spark, store).collect()]
    want = [tuple(r) for r in lag_readout(spark, ref).collect()]
    assert got == want and want[0][2] > 0


def test_mk_and_ks_streams_empty_store_readouts(spark, workdir):
    """Empty-store contract for the round-11 trend/drift twins: a
    readout before any fold returns the close's empty shape (no rows —
    both closes aggregate an empty ledger to zero groups), not a
    crash. The risk/lag twins pin their n=0 rows in their own parity
    tests; this covers the remaining two."""
    from open_pulsar_spark.streaming.ks_stream import ks_readout
    from open_pulsar_spark.streaming.mk_stream import mk_readout

    assert mk_readout(spark, f"{workdir}/mk_empty").collect() == []
    assert ks_readout(spark, f"{workdir}/ks_empty").collect() == []


def test_trend_stream_folds_to_both_batch_slopes(spark, workdir):
    """Streaming revenue trend: ONE additive (segment, month) ledger
    folded over three epochs serves TWO readouts — the OLS slope and
    the robust Theil-Sen slope — each bit-matching its batch query
    (shared xy_from_monthly reindex + ols_trend_from_xy /
    theilsen_from_xy closes; the cusum_stream one-ledger-N-readouts
    pattern). Replays are no-ops by epoch overwrite; epoch-less
    additive writes are refused."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import (
        attributed_order_month_cents,
    )
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.trend_stream import (
        TREND,
        theilsen_readout,
        trend_readout,
    )
    from tests.conftest import SF_SMALL

    lines = attributed_order_month_cents(spark, SF_SMALL)
    store = f"{workdir}/trend_store"
    # split on cents so every month accumulates ACROSS epochs
    for k in range(3):
        TREND.update(spark, lines.where(F.col("cents") % 3 == k), store, k)

    qs = all_queries()
    want_ols = [
        tuple(r) for r in qs["segment_revenue_trend"](spark, SF_SMALL).collect()
    ]
    assert want_ols, "batch OLS readout must be non-empty"
    assert [tuple(r) for r in trend_readout(spark, store).collect()] == want_ols

    want_ts = [
        tuple(r)
        for r in qs["segment_revenue_theilsen"](spark, SF_SMALL).collect()
    ]
    assert want_ts, "batch Theil-Sen readout must be non-empty"
    assert [
        tuple(r) for r in theilsen_readout(spark, store).collect()
    ] == want_ts

    TREND.update(spark, lines.where(F.col("cents") % 3 == 1), store, 1)
    assert [tuple(r) for r in trend_readout(spark, store).collect()] == want_ols

    with pytest.raises(ValueError, match="additive"):
        TREND.update(spark, lines, store, None)


def test_mk_stream_runs_as_real_streaming_query(spark, workdir):
    """MK.start as an actual Structured Streaming query (file
    source, maxFilesPerTrigger=1 → multiple epochs): after
    processAllAvailable the stream-maintained weekly ledger's
    Mann-Kendall readout bit-matches the one-shot batch fold, and
    forced auto-compaction (max_segments=1) leaves it unchanged —
    same harness tier as the risk/lag twins."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import attributed_order_cents
    from open_pulsar_spark.streaming.mk_stream import MK, mk_readout
    from tests.conftest import SF_SMALL

    lines = attributed_order_cents(spark, SF_SMALL)
    src = f"{workdir}/mk_src"
    lines.where(F.col("cents") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    lines.where(F.col("cents") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/mk_live"
    q = MK.start(
        spark,
        spark.readStream.schema("segment STRING, week TIMESTAMP, cents LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/mk_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/mk_ref"
    MK.update(spark, lines, ref, 0)
    got = [tuple(r) for r in mk_readout(spark, store).collect()]
    want = [tuple(r) for r in mk_readout(spark, ref).collect()]
    assert got == want and want


def test_ks_stream_runs_as_real_streaming_query(spark, workdir):
    """KS.start as an actual Structured Streaming query: the
    additive (source, length) count ledger folds across real
    micro-batches (and through forced compaction) to the same
    pairwise-KS matrix as the one-shot batch fold."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.ks_stream import KS, ks_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "n_chars"
    )
    src = f"{workdir}/ks_src"
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/ks_live"
    q = KS.start(
        spark,
        spark.readStream.schema("doc_id LONG, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/ks_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/ks_ref"
    KS.update(spark, docs, ref, 0)
    got = [tuple(r) for r in ks_readout(spark, store).collect()]
    want = [tuple(r) for r in ks_readout(spark, ref).collect()]
    assert got == want and want


def test_trend_stream_runs_as_real_streaming_query(spark, workdir):
    """TREND.start as an actual Structured Streaming query: the
    ONE monthly ledger maintained across real micro-batches (and
    through forced compaction) serves BOTH the OLS and Theil-Sen
    readouts bit-identically to the one-shot batch fold."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import (
        attributed_order_month_cents,
    )
    from open_pulsar_spark.streaming.trend_stream import (
        TREND,
        theilsen_readout,
        trend_readout,
    )
    from tests.conftest import SF_SMALL

    lines = attributed_order_month_cents(spark, SF_SMALL)
    src = f"{workdir}/trend_src"
    lines.where(F.col("cents") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    lines.where(F.col("cents") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/trend_live"
    q = TREND.start(
        spark,
        spark.readStream.schema("segment STRING, month TIMESTAMP, cents LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/trend_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/trend_ref"
    TREND.update(spark, lines, ref, 0)
    for readout in (trend_readout, theilsen_readout):
        got = [tuple(r) for r in readout(spark, store).collect()]
        want = [tuple(r) for r in readout(spark, ref).collect()]
        assert got == want and want


def test_anova_stream_folds_to_batch_table(spark, workdir):
    """Streaming weekday ANOVA: the additive per-DAY cents ledger
    folded over three epochs of orders (split on o_orderkey, so every
    day's total accumulates ACROSS epochs — the close squares day
    totals, so the fold must reassemble each day exactly) serves an
    η² readout that bit-matches the batch revenue_dow_anova (shared
    dow_anova_from_daily close). Replays are no-ops by epoch
    overwrite; epoch-less additive writes are refused; an empty store
    reads out as the close's empty shape."""
    import pytest
    from pyspark.sql import functions as F

    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.anova_stream import ANOVA, anova_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    store = f"{workdir}/anova_store"
    for k in range(3):
        ANOVA.update(spark, orders.where(F.col("o_orderkey") % 3 == k), store, k)

    want = [
        tuple(r)
        for r in all_queries()["revenue_dow_anova"](spark, SF_SMALL).collect()
    ]
    assert want, "batch ANOVA table must be non-empty"
    got = [tuple(r) for r in anova_readout(spark, store).collect()]
    assert got == want

    ANOVA.update(spark, orders.where(F.col("o_orderkey") % 3 == 1), store, 1)
    assert [tuple(r) for r in anova_readout(spark, store).collect()] == want

    with pytest.raises(ValueError, match="additive"):
        ANOVA.update(spark, orders, store, None)

    assert anova_readout(spark, f"{workdir}/anova_empty").collect() == []


def test_anova_stream_runs_as_real_streaming_query(spark, workdir):
    """ANOVA.start as an actual Structured Streaming query
    (file source, maxFilesPerTrigger=1 → multiple epochs): after
    processAllAvailable the stream-maintained daily ledger's ANOVA
    readout bit-matches the one-shot batch fold, and forced
    auto-compaction (max_segments=1) leaves it unchanged."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.anova_stream import ANOVA, anova_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    src = f"{workdir}/anova_src"
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = f"{workdir}/anova_live"
    q = ANOVA.start(
        spark,
        spark.readStream.schema(
            "o_orderkey LONG, o_orderdate TIMESTAMP, o_totalprice DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/anova_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/anova_ref"
    ANOVA.update(spark, orders, ref, 0)
    got = [tuple(r) for r in anova_readout(spark, store).collect()]
    want = [tuple(r) for r in anova_readout(spark, ref).collect()]
    assert got == want and want


# -- registry sweep: EVERY registered twin runs as a real Structured
#    Streaming query, and the twin registry stays exact ----------------


def _all_twins():
    from open_pulsar_spark.streaming.twins import all_twins

    return all_twins()


@pytest.mark.parametrize("name", sorted(_all_twins()))
def test_partial_stream_twins_run_as_real_streaming_queries(
    spark, workdir, name
):
    """Every registered twin (streaming.twins.TWINS) runs as an ACTUAL
    Structured Streaming query (file source, 2 input files,
    maxFilesPerTrigger=1 → ≥2 real epochs through foreachBatch, with
    auto-compaction forced at max_segments=1): its folded store
    bit-matches a one-shot batch fold of the identical rows
    (stream-executed == driver-folded through the real trigger/commit/
    compaction path), every anchored readout off the live store
    bit-matches its batch anchor query over the same source (the
    fold-parity contract tools/verify_twins.py checks at larger
    scale), and every other readout matches the batch fold's."""
    from tests.conftest import SF_SMALL

    twin = _all_twins()[name]
    frame = twin.source_frame(spark, SF_SMALL)
    src = f"{workdir}/{name}_sweep_src"
    frame.repartition(2).write.parquet(src)
    store = f"{workdir}/{name}_sweep_live"
    q = twin.start(
        spark,
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        store,
        f"{workdir}/{name}_sweep_ck",
        compact_max_segments=1,
    )
    q.processAllAvailable()
    q.stop()
    ref = f"{workdir}/{name}_sweep_ref"
    twin.update(spark, frame, ref, 0)
    got = sorted(tuple(r) for r in twin.read(spark, store).collect())
    want = sorted(tuple(r) for r in twin.read(spark, ref).collect())
    assert got == want and want, f"{name}: live store != batch fold"
    for ro in twin.readouts:
        got = [tuple(r) for r in ro.fn(spark, store).collect()]
        if ro.anchor:
            want = [tuple(r) for r in ro.anchor_rows(spark, SF_SMALL).collect()]
        else:
            want = [tuple(r) for r in ro.fn(spark, ref).collect()]
        assert got == want, f"{name}:{ro.name} live != {ro.anchor or 'batch fold'}"
        assert want, f"{name}:{ro.name} empty readout"


def test_twin_registry_owns_the_partial_store_protocol():
    """AST lint: a module that calls segments.update_partial_store or
    start_partial_stream itself writes the replay contract by hand —
    it must declare a twin(...) instead, or be listed in
    twins.HAND_WRITTEN with its reason. A listed module that no longer
    calls them is a stale entry and fails too."""
    import ast
    import pathlib

    from open_pulsar_spark.streaming.twins import HAND_WRITTEN

    root = pathlib.Path(__file__).resolve().parents[1] / "open_pulsar_spark"
    protocol = {"update_partial_store", "start_partial_stream"}
    callers = set()
    for py in sorted(root.rglob("*.py")):
        if py.parent.name == "streaming" and py.stem in ("segments", "twins"):
            continue  # the protocol itself and its one generator
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name in protocol:
                    callers.add(py.stem)
    listed = {mod for mod, why in HAND_WRITTEN if why}
    assert len(listed) == len(HAND_WRITTEN), "every entry needs a reason"
    assert callers <= listed, (
        f"{sorted(callers - listed)} run the partial-store protocol by "
        "hand: declare a twin(...) or list the module in HAND_WRITTEN"
    )
    assert listed <= callers, f"stale HAND_WRITTEN entries: {sorted(listed - callers)}"


def test_twin_readout_anchors_are_registered_queries():
    """Every registered readout names an anchor that is a registry
    query, or sits in twins.NO_ANCHOR with a reason — and NO_ANCHOR
    lists exactly the anchorless readouts (no stale entries)."""
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.twins import NO_ANCHOR

    qs = all_queries()
    anchorless = set()
    for name, twin in _all_twins().items():
        for ro in twin.readouts:
            if ro.anchor is None:
                anchorless.add(f"{name}.{ro.name}")
            else:
                assert ro.anchor in qs, f"{name}.{ro.name}: {ro.anchor} not registered"
    assert anchorless == set(NO_ANCHOR), (
        f"unlisted: {sorted(anchorless - set(NO_ANCHOR))}, "
        f"stale: {sorted(set(NO_ANCHOR) - anchorless)}"
    )
    assert all(NO_ANCHOR.values()), "every NO_ANCHOR entry needs a reason"


def test_partial_stream_checkpoint_restart_is_exactly_once(spark, workdir):
    """Exactly-once ACROSS QUERY RESTARTS for the shared partial-stream
    scaffold (segments.start_partial_stream — every twin rides this):
    run the anova twin over file A, stop; add file B and restart on
    the SAME checkpoint (epoch ids continue, and Structured Streaming
    may replay the last in-flight batch with its original epoch id —
    the epoch-overwrite contract must absorb it); restart a third time
    with NO new data (pure replay window). After each incarnation the
    readout must equal the one-shot batch fold of exactly the files
    delivered so far — never a double-add, never a gap. This is the
    restart tier the per-call replay tests (update(..., same epoch))
    and the single-incarnation execution sweep don't reach."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.anova_stream import ANOVA, anova_readout
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    half_a = orders.where(F.col("o_orderkey") % 2 == 0)
    half_b = orders.where(F.col("o_orderkey") % 2 == 1)
    src = f"{workdir}/restart_src"
    store = f"{workdir}/restart_live"
    ckpt = f"{workdir}/restart_ck"

    def run_incarnation():
        q = ANOVA.start(
            spark,
            spark.readStream.schema(
                "o_orderkey LONG, o_orderdate TIMESTAMP, o_totalprice DOUBLE"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            store,
            ckpt,
            compact_max_segments=1,
        )
        q.processAllAvailable()
        q.stop()

    def fold_of(df, ref):
        ANOVA.update(spark, df, ref, 0)
        return [tuple(r) for r in anova_readout(spark, ref).collect()]

    half_a.coalesce(1).write.mode("append").parquet(src)
    run_incarnation()
    want_a = fold_of(half_a, f"{workdir}/restart_ref_a")
    assert [tuple(r) for r in anova_readout(spark, store).collect()] == want_a

    # incarnation 2: new file, SAME checkpoint — offsets continue
    half_b.coalesce(1).write.mode("append").parquet(src)
    run_incarnation()
    want_ab = fold_of(orders, f"{workdir}/restart_ref_ab")
    got2 = [tuple(r) for r in anova_readout(spark, store).collect()]
    assert got2 == want_ab and want_ab != want_a

    # incarnation 3: nothing new — pure replay window, store unchanged
    run_incarnation()
    assert [tuple(r) for r in anova_readout(spark, store).collect()] == want_ab
