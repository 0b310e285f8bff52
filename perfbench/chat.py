"""chat_stream workload: the message application over a file bus, closed loop.

`streaming.app.run_app` reads a `file://` bus one file per micro-batch and
runs its three branch queries (chat, task, command). The benchmark is the
single client: it writes bus file k+1 only after all three branches have
committed batch k, so one operation is one micro-batch, timed from the file
write to the chat branch's `deliver` returning.

Outputs are checked after the timed window, against a batch replay of
`build_message_pipeline` over the same files (see `replay_counts`), and
every task routed to the pipeline must complete with the attempt count
its `!fail` directive implies.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from stats import percentile
from tracing import Tracer

N_CHATS = 160
ZIPF_S = 1.1
UPDATES_PER_FILE = 240
CHAT_ID_BASE = 7_000_000
FILE_KEY = 10_000_000  # replay namespaces chat ids per file: file * FILE_KEY + chat

TASK_VERBS = ("run", "build", "fix", "implement", "create", "add", "refactor", "deploy", "write")
WORDS = (
    "hello", "thanks", "what", "about", "the", "schedule", "tomorrow", "can", "you",
    "explain", "this", "error", "please", "why", "does", "it", "fail", "again",
    "summary", "of", "today", "notes", "weather", "lunch", "plan", "meeting",
)
FAIL_DIRECTIVE = "!fail:rate_limit:1"

_MSG = pa.struct(
    [
        ("chat", pa.struct([("id", pa.int64())])),
        ("from", pa.struct([("id", pa.int64()), ("username", pa.string())])),
        ("text", pa.string()),
    ]
)
UPDATE_ARROW_SCHEMA = pa.schema(
    [("update_id", pa.int64()), ("message", _MSG), ("edited_message", _MSG)]
)


class UpdateGenerator:
    """Seeded Telegram-shaped updates, one bus file at a time.

    Chat ids are Zipf-skewed over N_CHATS chats, so hot chats send several
    messages per batch and get `busy` admissions. About 5% of updates are
    commands (a quarter of them `/reset`), about 30% are task-routed texts
    (about 10% of those carry FAIL_DIRECTIVE) and the rest are chat texts.
    A few updates are edits and a few carry no text (photos), which the
    router must fall back on and drop respectively.
    """

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 0xC4A7])
        p = 1.0 / np.arange(1, N_CHATS + 1) ** ZIPF_S
        self.p = p / p.sum()
        self.next_update_id = 1

    def _text(self) -> str | None:
        r = self.rng
        u = r.random()
        if u < 0.02:
            return None
        if u < 0.07:
            return str(r.choice(["/reset", "/status", "/help@bench_bot", "/model fast"]))
        words = " ".join(r.choice(WORDS, size=int(r.integers(3, 12))))
        if u < 0.37:
            text = f"{r.choice(TASK_VERBS)} {words}"
            return f"{text} {FAIL_DIRECTIVE}" if r.random() < 0.10 else text
        return words

    def next_file(self) -> pa.Table:
        r = self.rng
        chats = CHAT_ID_BASE + r.choice(N_CHATS, size=UPDATES_PER_FILE, p=self.p)
        rows = []
        for chat in chats.tolist():
            msg = {
                "chat": {"id": chat},
                "from": {"id": chat, "username": f"user{chat % 1000}"},
                "text": self._text(),
            }
            edited = r.random() < 0.03
            rows.append(
                {
                    "update_id": self.next_update_id,
                    "message": None if edited else msg,
                    "edited_message": msg if edited else None,
                }
            )
            self.next_update_id += 1
        return pa.Table.from_pylist(rows, schema=UPDATE_ARROW_SCHEMA)


def expected_attempts(text: str) -> int:
    m = re.search(r"!fail:rate_limit:(\d+)", text)
    return 1 + int(m.group(1)) if m else 1


class BatchWaiter:
    """StreamingQueryListener that records every branch's progress and
    lets the client wait until all branches have committed a batch."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        waiter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                waiter._on_progress(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                waiter._on_terminated(str(event.id), event.exception)

        self.listener = _Listener()
        self.cond = threading.Condition()
        self.progress: dict[str, list] = {}
        self.failure: str | None = None

    def _on_progress(self, p) -> None:
        with self.cond:
            self.progress.setdefault(str(p.id), []).append(p)
            self.cond.notify_all()

    def _on_terminated(self, qid: str, exception) -> None:
        with self.cond:
            if exception:
                self.failure = f"query {qid} terminated: {exception}"
            self.cond.notify_all()

    def wait_committed(self, query_ids: list[str], batch_id: int, timeout_s: float) -> None:
        def done() -> bool:
            return all(
                any(p.batchId >= batch_id for p in self.progress.get(q, ())) for q in query_ids
            )

        deadline = time.monotonic() + timeout_s
        with self.cond:
            while not done():
                if self.failure:
                    raise RuntimeError(self.failure)
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"batch {batch_id} not committed in {timeout_s}s")
                self.cond.wait(left)

    def batch(self, qid: str, batch_id: int):
        with self.cond:
            return next(p for p in self.progress[qid] if p.batchId == batch_id)


def replay_counts(spark, bus_dir: str, checkpoint_dir: str) -> tuple[Counter, Counter]:
    """(route counts, status counts) from a replay of `build_message_pipeline`
    over every bus file at once.

    The chat branch's state operator runs only in a streaming query, so the
    replay is one available-now streaming run into memory sinks. Busy
    admission is per chat per micro-batch, and the measured run made one
    micro-batch per file, so the replay namespaces chat ids by file
    (file * FILE_KEY + chat): a single batch then admits exactly as the
    measured run did, file by file.
    """
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.app import build_message_pipeline
    from open_pulsar_spark.streaming.router import UPDATE_SCHEMA

    raw = spark.readStream.schema(UPDATE_SCHEMA).parquet(bus_dir)
    file_no = F.regexp_extract(F.input_file_name(), r"updates-(\d+)\.parquet", 1).cast("long")

    def keyed(col: str):
        m = F.col(col)
        return F.when(
            m.isNotNull(),
            F.struct(
                F.struct((file_no * FILE_KEY + m["chat"]["id"]).alias("id")).alias("chat"),
                m["from"].alias("from"),
                m["text"].alias("text"),
            ),
        ).alias(col)

    updates = raw.select("update_id", keyed("message"), keyed("edited_message"))
    queries = {
        branch: df.writeStream.format("memory")
        .queryName(f"perfbench_replay_{branch}")
        .option("checkpointLocation", os.path.join(checkpoint_dir, branch))
        .trigger(availableNow=True)
        .start()
        for branch, df in build_message_pipeline(spark, updates).items()
    }
    rows = {}
    for branch, q in queries.items():
        q.awaitTermination()
        rows[branch] = spark.table(f"perfbench_replay_{branch}")
    status = Counter({r["status"]: r["n"] for r in rows["chat"].groupBy("status").agg(F.count("*").alias("n")).collect()})
    routes = Counter(chat=status["ok"] + status["busy"], task=rows["task"].count(), command=rows["command"].count())
    return routes, status


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class ChatStream:
    """The chat_stream workload; see the module docstring."""

    # The first batch takes about 20 s (Python workers, code generation,
    # state store) and the next two run 10-20% slower than later ones.
    WARMUP_FILES = 3
    BATCH_TIMEOUT_S = 120.0

    def __init__(self, seed: int, work_dir: str, tracer: Tracer) -> None:
        self.gen = UpdateGenerator(seed)
        self.bus = os.path.join(work_dir, "bus")
        self.staging = os.path.join(work_dir, "bus-staging")
        self.checkpoints = os.path.join(work_dir, "checkpoints")
        self.replay_checkpoints = os.path.join(work_dir, "replay-checkpoints")
        self.tracer = tracer
        self.check_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.next_file = 0
        # the tracer and span of the batch in flight, read by the handlers
        self.batch_tracer = Tracer(False)
        self.batch_span: int | None = None
        self.file_rows: dict[int, int] = {}
        # per-epoch records written by the branch handlers (one thread each)
        self.deliver_end: dict[int, float] = {}
        self.deliver_ms: dict[int, float] = {}
        self.chunks: dict[int, int] = {}
        self.status = Counter()
        self.tasks: dict[int, int] = {}
        self.task_attempts = 0
        self.tasks_completed = 0
        self.pipeline_ms: dict[int, float] = {}
        self.commands = 0
        self.timed_batches: list[tuple[int, float, bool]] = []  # (batch, ms, traced)
        self.cycles_s: list[float] = []  # write to last branch commit, per timed batch

    def prepare(self) -> None:
        for d in (self.bus, self.staging, self.checkpoints):
            os.makedirs(d, exist_ok=True)

    def start(self, spark) -> None:
        from open_pulsar_spark.sources.bus import BusConfig, read_bus
        from open_pulsar_spark.streaming.app import run_app
        from open_pulsar_spark.streaming.router import UPDATE_SCHEMA

        self.spark = spark
        self.waiter = BatchWaiter()
        spark.streams.addListener(self.waiter.listener)
        updates = read_bus(
            spark, BusConfig(uri=f"file://{self.bus}", schema=UPDATE_SCHEMA, max_files_per_trigger=1)
        )
        self.app = run_app(
            spark,
            updates,
            self.checkpoints,
            deliver=self._deliver,
            handle_task=self._handle_task,
            handle_command=self._handle_command,
            heartbeat_emit=None,
        )
        self.qids = {name: str(q.id) for name, q in self.app.queries.items()}

    # -- branch handlers: run on each branch query's own thread ------------

    def _deliver(self, chunks_df, epoch_id: int) -> None:
        with self.batch_tracer.span("deliver", parent=self.batch_span):
            t0 = time.perf_counter()
            rows = chunks_df.collect()
            self.chunks[epoch_id] = len(rows)
            self.status.update(r["status"] for r in rows if r["chunk_idx"] == 0)
            end = time.perf_counter()
        self.deliver_ms[epoch_id] = (end - t0) * 1e3
        self.deliver_end[epoch_id] = end

    def _handle_task(self, batch_df, epoch_id: int) -> None:
        from open_pulsar_spark.operators.pipeline import run_pipeline

        with self.batch_tracer.span("task_handler", parent=self.batch_span) as sid:
            texts = [r["text"] for r in sorted(batch_df.select("update_id", "text").collect())]
            self.tasks[epoch_id] = len(texts)
            if not texts:
                return
            t0 = time.perf_counter()
            with self.batch_tracer.span("run_pipeline", parent=sid):
                lines = [(i + 1, f"- {t}") for i, t in enumerate(texts)]
                state = run_pipeline(self.spark, lines).select("task", "status", "attempts").collect()
            self.pipeline_ms[epoch_id] = (time.perf_counter() - t0) * 1e3
        bad = [r for r in state if r["status"] != "completed" or r["attempts"] != expected_attempts(r["task"])]
        self.task_attempts += sum(r["attempts"] for r in state)
        self.tasks_completed += sum(r["status"] == "completed" for r in state)
        if len(state) != len(texts) or bad:
            self._fail(f"batch {epoch_id}: {len(state)} task rows for {len(texts)} tasks, wrong: {bad[:3]}")

    def _handle_command(self, batch_df, epoch_id: int) -> None:
        with self.batch_tracer.span("command_handler", parent=self.batch_span):
            self.commands += len(batch_df.select("cmd").collect())

    # -- client loop ---------------------------------------------------------

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def _batch(self, traced: bool) -> float:
        """Write one bus file and wait until every branch committed it;
        returns the chat latency (file write to `deliver` returning) in ms."""
        k = self.next_file
        self.next_file += 1
        table = self.gen.next_file()
        self.file_rows[k] = table.num_rows
        name = f"updates-{k:06d}.parquet"
        self.attempted += 1
        self.batch_tracer = self.tracer if traced else Tracer(False)
        with self.batch_tracer.span("batch", batch=k) as sid:
            self.batch_span = sid
            t_write = time.perf_counter()
            pq.write_table(table, os.path.join(self.staging, name))
            os.rename(os.path.join(self.staging, name), os.path.join(self.bus, name))
            self.waiter.wait_committed(list(self.qids.values()), k, self.BATCH_TIMEOUT_S)
        self.batch_span = None
        return (self.deliver_end[k] - t_write) * 1e3

    def warmup(self) -> None:
        for _ in range(self.WARMUP_FILES):
            self._batch(traced=False)

    def timed(self, seconds: float) -> float:
        """Batches until the window is within half a batch of `seconds`, so
        that it overshoots no more than it falls short. In a traced run
        every other batch is traced, so the tracing overhead is measured
        too, and there are at least two batches."""
        start = time.perf_counter()
        while True:
            k = self.next_file
            traced = self.tracer.enabled and k % 2 == 0
            t0 = time.perf_counter()
            ms = self._batch(traced)
            self.timed_batches.append((k, ms, traced))
            self.cycles_s.append(time.perf_counter() - t0)
            window = time.perf_counter() - start
            if window + statistics.median(self.cycles_s) / 2 >= seconds and (
                len(self.timed_batches) >= 2 or not self.tracer.enabled
            ):
                return window

    def finish(self) -> None:
        """Stop the application, then check its outputs against a replay."""
        self.app.stop()
        self.spark.streams.removeListener(self.waiter.listener)
        c0 = time.perf_counter()
        routes, status = replay_counts(self.spark, self.bus, self.replay_checkpoints)
        got_routes = Counter(
            chat=self.status["ok"] + self.status["busy"],
            task=sum(self.tasks.values()),
            command=self.commands,
        )
        if got_routes != routes or self.status != status:
            self._fail(f"stream counts {dict(got_routes)} {dict(self.status)} != replay {dict(routes)} {dict(status)}")
        self.check_s += time.perf_counter() - c0

    def latencies_ms(self) -> list[float]:
        return [ms for _, ms, traced in self.timed_batches if not traced]

    def latency_ms(self, q: float) -> float:
        """The q-th percentile of the untraced batch latencies."""
        return percentile(self.latencies_ms(), q)

    def ops_done(self) -> int:
        return len(self.timed_batches)

    def throughput_units(self) -> int:
        """Messages fully handled by all three branches in the window."""
        return sum(self.file_rows[k] for k, _, _ in self.timed_batches)

    def layer_metrics(self) -> dict[str, float]:
        timed = [k for k, _, _ in self.timed_batches]
        prog = {b: [self.waiter.batch(q, k) for k in timed] for b, q in self.qids.items()}
        out = {
            "bus.latest_offset_ms": _median(p.durationMs.get("latestOffset", 0) for ps in prog.values() for p in ps),
            "bus.input_rows": _median(p.numInputRows for p in prog["chat"]),
            "router.rows_chat": float(self.status["ok"] + self.status["busy"]),
            "router.rows_task": float(sum(self.tasks.values())),
            "router.rows_command": float(self.commands),
            "sinks.deliver_ms": _median(self.deliver_ms[k] for k in timed),
            "sinks.chunks_out": _median(self.chunks[k] for k in timed),
            "pipeline.run_ms": _median(self.pipeline_ms.get(k, 0.0) for k in timed),
            "pipeline.tasks": _median(self.tasks[k] for k in timed),
            "pipeline.attempts_per_completed": self.task_attempts / max(1, self.tasks_completed),
        }
        for branch, ps in prog.items():
            for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                              ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                              ("commitOffsets", "commit_offsets_ms")):
                out[f"app.{branch}.{name}"] = _median(p.durationMs.get(key, 0) for p in ps)
        state = [p.stateOperators[0] for p in prog["chat"]]
        out["sessions.state_commit_ms"] = _median(s.commitTimeMs for s in state)
        out["sessions.state_rows_total"] = float(state[-1].numRowsTotal)
        out["sessions.state_memory_bytes"] = float(state[-1].memoryUsedBytes)
        out["sessions.busy_ratio"] = self.status["busy"] / max(1, self.status["ok"] + self.status["busy"])
        traced_n = max(1, sum(1 for _, _, t in self.timed_batches if t))
        self_ms = self.tracer.self_times_ms()
        for span in ("batch", "deliver", "task_handler", "run_pipeline", "command_handler"):
            out[f"self.{span}_ms"] = self_ms.get(span, 0.0) / traced_n
        traced = [ms for _, ms, t in self.timed_batches if t]
        untraced = self.latencies_ms()
        out["trace.traced_p50_ms"] = _median(traced)
        out["trace.untraced_p50_ms"] = _median(untraced)
        out["trace.overhead_ms"] = out["trace.traced_p50_ms"] - out["trace.untraced_p50_ms"]
        return out
