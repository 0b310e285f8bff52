#!/usr/bin/env python3
"""Smoke self-test of the benchmark, on small inputs.

    python3 perfbench/selftest.py

Runs the benchmark command on the sf0.001 tables and a few chat_stream
bus files, and checks that:

- every end-to-end and per-layer metric of BENCHMARK.json is printed,
  with its unit, on both workloads;
- a deliberately corrupted expected result makes the command exit
  non-zero with "correct": false, on both workloads;
- outside a full checkout (only BENCHMARK.json and this directory) the
  command exits non-zero without printing a result.

Takes a few minutes: each case starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def child(workload: str, trace: str, corrupt: str) -> int:
    """Run the benchmark in this process on small inputs, optionally with
    a corrupted expected result."""
    sys.path[:0] = [HERE, ROOT]
    import chat
    import querymix
    import run

    querymix.SF = 0.001
    if corrupt == "1":
        plain = querymix.expected_from_warmup
        querymix.expected_from_warmup = lambda *a: plain(*a) + [("corrupted",)]
        replay = chat.replay_counts
        chat.replay_counts = lambda *a: (lambda r: (r[0], r[1] + chat.Counter(ok=1)))(replay(*a))
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "2", "--trace", trace])


def run_case(workload: str, trace: int, corrupt: bool):
    cmd = [sys.executable, __file__, "child", workload, str(trace), str(int(corrupt))]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p, result


def check_metrics(result: dict, declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"printed metrics {got} != declared {want}"
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    cases = [
        ("tpch_mix", 0, False),
        ("chat_stream", 1, False),
        ("tpch_mix", 1, True),
        ("chat_stream", 0, True),
    ]
    for workload, trace, corrupt in cases:
        p, result = run_case(workload, trace, corrupt)
        name = f"{workload} trace={trace} corrupt={corrupt}"
        try:
            assert result is not None, "no result line"
            check_metrics(result, spec["per_layer" if trace else "end_to_end"])
            if corrupt:
                assert p.returncode != 0 and result["correct"] is False, "corruption not detected"
            else:
                assert p.returncode == 0 and result["correct"] is True, "clean run failed its checks"
            print(f"PASS {name}")
        except AssertionError as e:
            failures += 1
            print(f"FAIL {name}: {e}\n{p.stderr[-3000:]}")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "tpch_mix", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        if p.returncode != 0 and not p.stdout.strip():
            print("PASS outside a full checkout: non-zero exit, no result")
        else:
            failures += 1
            print(f"FAIL outside a full checkout: rc={p.returncode} stdout={p.stdout[-500:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ALL PASS" if failures == 0 else f"{failures} FAILED")
    return 1 if failures else 0


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "child":
        sys.exit(child(*sys.argv[2:]))
    sys.exit(main())
