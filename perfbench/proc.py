"""CPU time and resident memory of this process and everything it started.

The benchmark's process tree is the driver Python process, the JVM it
launches (spark-submit execs `java`), and the Python worker daemon and
workers the JVM forks. Everything is read from /proc, so it counts the
work of every process in the tree, not just the driver.

CPU of a process that exited and was reaped by a parent in the tree is
kept by that parent as cutime+cstime, so summing utime+stime+cutime+cstime
over the live tree counts each CPU second once.
"""

from __future__ import annotations

import os
import threading

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_B = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) of one process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split on the LAST ')'
    lo, hi = raw.find("("), raw.rfind(")")
    rest = raw[hi + 2 :].split()
    return raw[lo + 1 : hi], int(rest[1]), rest


def _tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """Every live descendant of `root` (and root itself): pid -> (comm, fields)."""
    stats: dict[int, tuple[str, int, list[str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, list[str]]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            comm, _, rest = stats[pid]
            out[pid] = (comm, rest)
            todo.extend(children.get(pid, ()))
    return out


# field offsets in the list after comm (man 5 proc: field N -> index N-3)
_UTIME, _STIME, _CUTIME, _CSTIME, _RSS = 11, 12, 13, 14, 21


def _jit_s(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of JVM `pid` (C1 and C2
    compiler threads; Linux cuts thread names to 15 characters)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                raw = f.read().decode(errors="replace")
        except OSError:
            continue
        lo, hi = raw.find("("), raw.rfind(")")
        if raw[lo + 1 : hi].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            rest = raw[hi + 2 :].split()
            total += int(rest[_UTIME]) + int(rest[_STIME])
    return total * _TICK_S


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds used so far by the tree: driver / jvm / jit / python_worker.

    The driver is `root` itself (its own utime+stime). The JVM is every
    `java` process (utime+stime), less its JIT compiler threads, which are
    `jit`; the run keeps those threads alive (-XX:-UseDynamicNumberOfCompilerThreads),
    so their counters never vanish with an exited thread. What the JVM's
    reaped children used sits in its cutime+cstime and is counted as
    Python-worker time, because the only children the JVM forks are the
    Python worker daemon and workers. Everything else in the tree (the live
    worker daemon and workers) is Python-worker time too. Children of the
    driver that exited count as driver time.
    """
    root = os.getpid() if root is None else root
    split = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "python_worker": 0.0}
    for pid, (comm, f) in _tree(root).items():
        own = (int(f[_UTIME]) + int(f[_STIME])) * _TICK_S
        reaped = (int(f[_CUTIME]) + int(f[_CSTIME])) * _TICK_S
        if pid == root:
            split["driver"] += own + reaped
        elif comm == "java":
            jit = _jit_s(pid)
            split["jit"] += jit
            split["jvm"] += own - jit
            split["python_worker"] += reaped
        else:
            split["python_worker"] += own + reaped
    return split


def machine_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from /proc/stat.

    Steal is time the hypervisor gave this VM's CPUs to someone else; its
    share of the total over a window tells how contended the host was."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def descendants() -> list[int]:
    """Pids of every live process this process started, directly or not."""
    return [pid for pid in _tree(os.getpid()) if pid != os.getpid()]


def running(pid: int) -> bool:
    """True while `pid` exists and has not exited (a zombie has exited)."""
    st = _read_stat(pid)
    return st is not None and st[2][0] != "Z"


def rss_bytes(root: int | None = None) -> int:
    """Resident memory of the whole tree right now."""
    root = os.getpid() if root is None else root
    return sum(int(f[_RSS]) for _, f in _tree(root).values()) * _PAGE_B


class PeakRss:
    """Samples the tree's resident memory on a background thread and keeps
    the maximum. Use as a context manager; `peak` is valid after exit."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling early; the peak covers the time up to now."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self.peak = max(self.peak, rss_bytes())

    def __exit__(self, *exc) -> None:
        self.stop()
