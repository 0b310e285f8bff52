"""Benchmark-side tracing: spans at layer boundaries and Spark's own records.

Nothing here changes program code. Spans are recorded around the calls the
benchmark makes into each layer (and around `tables.load_table`, by
rebinding the name in each `operators.*` module for the traced run only).
Below `collect()`, the numbers come from Spark's public status records:
the job group's jobs and stages from the status tracker and status store,
and Catalyst's phase timings from the query execution's tracker.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import threading
import time


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A disabled tracer records nothing, so untraced runs pay no tracing cost
    beyond one attribute test per span.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter(), **attrs}
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the part
        of its interval that its children cover (overlapping children, as
        the concurrent streaming branches are, count once)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += 0.0 if cur_hi is None else cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1e3
        return out

    def write(self, path: str, **record) -> None:
        """Write the spans, with `record` (seed, per-layer metrics) beside them."""
        with open(path, "w") as f:
            json.dump({**record, "spans": self.spans}, f)


@contextlib.contextmanager
def wrapped_load_table(tracer: Tracer, parent: int | None):
    """Rebind `load_table` in every loaded `operators.*` module (and in
    `tables` itself) to a wrapper that records one span per call under
    `parent`. Restores the original bindings on exit."""
    from open_pulsar_spark import tables

    original = tables.load_table

    def traced(spark, sf_dir, name):
        with tracer.span("load_table", parent=parent, table=name):
            return original(spark, sf_dir, name)

    mods = [tables] + [
        m for n, m in list(sys.modules.items())
        if n.startswith("open_pulsar_spark.operators.") and getattr(m, "load_table", None) is original
    ]
    for m in mods:
        m.load_table = traced
    try:
        yield
    finally:
        for m in mods:
            m.load_table = original


class SparkRecords:
    """Reads jobs, stages and Catalyst phases for one operation."""

    _STAGE_FIELDS = {
        "executor_run_ms": "executorRunTime",
        "executor_cpu_ms": "executorCpuTime",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_bytes": "diskBytesSpilled",
    }

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = spark._jvm

    def job_ids(self, group: str, timeout_s: float = 10.0) -> list[int]:
        """Job ids of `group`, once every one of them has finished (the
        listener bus updates the status store asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            ids = sorted(self.tracker.getJobIdsForGroup(group))
            infos = [self.tracker.getJobInfo(j) for j in ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                return ids
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of {group} still running")
            time.sleep(0.01)

    def stage_totals(self, job_ids: list[int], timeout_s: float = 10.0) -> dict[str, float]:
        stage_ids = sorted({s for j in job_ids for s in self.tracker.getJobInfo(j).stageIds})
        tot = dict.fromkeys(["stages", "tasks", *self._STAGE_FIELDS], 0.0)
        deadline = time.monotonic() + timeout_s
        for sid in stage_ids:
            while True:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - py4j wraps NoSuchElementException
                    st = None
                status = str(st.status()) if st is not None else "PENDING"
                if status in ("COMPLETE", "SKIPPED", "FAILED") or time.monotonic() > deadline:
                    break
                time.sleep(0.01)
            if st is None or status == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            for key, getter in self._STAGE_FIELDS.items():
                tot[key] += float(getattr(st, getter)())
        tot["executor_cpu_ms"] /= 1e6  # executorCpuTime is in ns
        return tot

    def phases_ms(self, df) -> dict[str, float]:
        """Catalyst analysis / optimization / planning time of `df`'s query."""
        phases = df._jdf.queryExecution().tracker().phases()
        jmap = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
        return {str(k): float(jmap.get(k).durationMs()) for k in jmap.keySet()}

    def persistent_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())
