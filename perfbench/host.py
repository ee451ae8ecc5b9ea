"""Process-tree accounting and host context for the benchmark.

Spark in local mode runs as a tree: this Python driver, the JVM it
launches, the PySpark daemon under the JVM and the Python workers the
daemon forks.  CPU and memory are read for the whole tree from /proc, so
JVM-side and Python-side work are both charged to the pass that caused
them.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # process ended between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is
    # positional, starting at field 3 (state).
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> dict[int, int]:
    """{pid: parent pid} of the root process and its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, ()):
            out[child] = pid
            todo.append(child)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the live tree, including children that
    tree members have already reaped (cutime/cstime)."""
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(parents: dict[int, int]) -> dict[int, int]:
    """RSS in bytes per pid (pids that ended are left out).

    The JVM starts helper processes (chmod, bash) with a child that shares
    its address space until it execs; that child's statm equals its
    parent's, and its memory is counted once, with the parent.
    """
    statm = {}
    for pid in parents:
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            pass
    return {
        pid: int(line.split()[1]) * _PAGE
        for pid, line in statm.items()
        if statm.get(parents[pid]) != line
    }


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed RSS of the process tree while ``active`` is set.

    The descendant list is refreshed once a second (Python workers come and
    go); RSS is read every 0.1 s.
    """

    INTERVAL_S = 0.1

    def __init__(self):
        self.active = threading.Event()
        self.peak = 0
        # {command name: [processes, bytes]} at the peak
        self.peak_by_command: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        parents, refreshed = {}, 0.0
        while not self._stop.wait(self.INTERVAL_S):
            if not self.active.is_set():
                continue
            now = time.monotonic()
            if now - refreshed > 1.0:
                parents, refreshed = tree(), now
            rss = tree_rss_bytes(parents)
            total = sum(rss.values())
            if total > self.peak:
                self.peak = total
                by: dict[str, list[int]] = {}
                for pid, b in rss.items():
                    entry = by.setdefault(_comm(pid), [0, 0])
                    entry[0] += 1
                    entry[1] += b
                self.peak_by_command = by


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def decode_canary() -> dict:
    """Single-threaded ``kernel.decode_batch`` over 2,000 generator records,
    no Spark; the median of 9 timings.  The records are fixed (seed 42), not
    the run's, so the figure tracks the host's per-core speed and serves as
    the canary for comparisons across runs and sessions."""
    from mysql_cdc_rs_spark.kernel.batchdecode import decode_batch
    from mysql_cdc_rs_spark.sources.pages import make_record

    n, reps = 2000, 9
    raws = [make_record(42, i)[2] for i in range(n)]
    mb = sum(len(r) for r in raws) / 1e6
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        decode_batch(raws)
        times.append(time.perf_counter() - t0)
    t = statistics.median(times)
    return {"pages_per_s": n / t, "mb_per_s": mb / t, "pages": n, "mb": mb}


def git_commit(root: str) -> str | None:
    """HEAD of the checkout; None when it is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
