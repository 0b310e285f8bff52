#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch_mix --seed 1 --seconds 20 --trace 0

Workloads (see README.md in this directory): tpch_mix and chat_stream.
The run builds its inputs from the seed, starts a Spark session through
`open_pulsar_spark.get_spark` on local[<cpus>], warms up, measures for
about `--seconds` seconds, checks every output, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are its per-layer metrics, and the
spans are written to .perfbench_out/. The exit code is 0 only when every
output check passed.

Everything the run writes (inputs, Spark local dirs, checkpoints, temp
files) lives under .perfbench_work/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_mix", "chat_stream")


def process_age_s() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Fix what the run depends on, whatever the caller's environment holds.

    - SPARK_GRAFT_CPUS: the CPUs this process may run on (what
      `env -u OMP_NUM_THREADS nproc` prints); unset, get_spark would use
      local[32] with 32 shuffle partitions whatever the machine has.
    - SPARK_GRAFT_MPB unset, so get_spark's own split size applies.
    - PYTHONPATH starts with the checkout, so Spark's Python workers can
      import open_pulsar_spark; PYSPARK_PYTHON is this interpreter.
    - Spark local dirs, temp files and the JVM's temp dir are fresh
      directories under `work`.
    - The JVM keeps its JIT compiler threads for its whole life, so their
      CPU can be read per thread and split off (proc.cpu_split).
    """
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_MPB", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until every process the run started has ended."""
    from pyspark import SparkContext

    from proc import descendants, running

    started = descendants()
    spark.stop()
    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()
        jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while alive := [p for p in started if running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    return (b[0] - a[0]) / max(1, b[1] - a[1])


def make_workload(name: str, seed: int, work: str, tracer):
    if name == "chat_stream":
        from chat import ChatStream

        return ChatStream(seed, work, tracer)
    from querymix import QueryMix

    return QueryMix(seed, work, tracer)


def measure(args, work: str) -> tuple[object, dict]:
    """Set up, warm up, run the timed window and check; returns the workload
    and the raw measurements."""
    from open_pulsar_spark import get_spark

    from proc import PeakRss, cpu_split, machine_ticks
    from tracing import Tracer

    tracer = Tracer(bool(args.trace))
    wl = make_workload(args.workload, args.seed, work, tracer)
    ticks0 = machine_ticks()
    # peak memory is a per-layer metric: untraced runs carry no sampler
    with (PeakRss() if args.trace else contextlib.nullcontext()) as rss:
        wl.prepare()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            wl.start(spark)
            wl.warmup()
            setup_s = process_age_s() - wl.check_s
            cpu0, ticks1 = cpu_split(), machine_ticks()
            window_s = wl.timed(args.seconds)
            cpu1, ticks2 = cpu_split(), machine_ticks()
            if rss:
                rss.stop()
            wl.finish()
        except BaseException:
            stop_spark(spark)
            raise
    print(
        f"perfbench timing: session {session_s:.1f}s, setup {setup_s:.1f}s, window {window_s:.1f}s, "
        f"checks {wl.check_s:.1f}s, total {process_age_s():.1f}s; "
        f"cpu steal setup {steal_share(ticks0, ticks1):.3f} window {steal_share(ticks1, ticks2):.3f}; "
        f"latencies ms {[round(x) for x in wl.latencies_ms()]}",
        file=sys.stderr,
    )
    raw = {
        "session_s": session_s,
        "setup_s": setup_s,
        "window_s": window_s,
        "cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu0},
        "peak_rss_b": rss.peak if rss else 0,
    }
    stop_spark(spark)
    return wl, raw


def end_to_end(wl, raw) -> dict[str, float]:
    ops = max(1, wl.ops_done())
    return {
        "setup_s": raw["setup_s"],
        "latency_p50_ms": wl.latency_ms(50),
        "latency_p90_ms": wl.latency_ms(90),
        "throughput_per_s": wl.throughput_units() / raw["window_s"],
        "cpu_ms_per_op": sum(raw["cpu_s"].values()) * 1e3 / ops,
    }


def per_layer(wl, raw, declared: list[str]) -> dict[str, float]:
    """Every declared per-layer metric; a layer this workload never enters
    (the streaming layers on tpch_mix, `tables` on chat_stream) reads 0."""
    ops = max(1, wl.ops_done())
    got = {
        "session.start_s": raw["session_s"],
        **{f"proc.{k}_cpu_ms": v * 1e3 / ops for k, v in raw["cpu_s"].items()},
        "proc.peak_rss_mb": raw["peak_rss_b"] / 2**20,
        **wl.layer_metrics(),
    }
    unknown = sorted(set(got) - set(declared))
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json per_layer: {unknown}")
    return {name: float(got.get(name, 0.0)) for name in declared}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any work, outside a full checkout
    sys.path[:0] = [HERE, ROOT]
    import open_pulsar_spark  # noqa: F401

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    try:
        wl, raw = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if args.trace:
        values = per_layer(wl, raw, list(units))
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        wl.tracer.write(
            os.path.join(out, f"spans-{args.workload}-{args.seed}.json"),
            workload=args.workload, seed=args.seed, metrics=values,
        )
    else:
        values = end_to_end(wl, raw)
    correct = wl.failed == 0
    for err in wl.errors:
        print(f"CHECK FAILED {err}", file=sys.stderr)
    lat = wl.latencies_ms()
    print(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cpus={os.environ['SPARK_GRAFT_CPUS']} window_s={raw['window_s']:.2f} "
        f"ops={wl.ops_done()} latency_samples={len(lat)} "
        f"attempted={wl.attempted} failed={wl.failed} "
        f"error_rate={wl.failed / max(1, wl.attempted):.4f} (1)"
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(2)
