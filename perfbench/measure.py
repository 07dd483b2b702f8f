"""Measurement helpers with no Spark dependency: latency percentiles,
span self time, process age and peak RSS of a process tree from /proc,
and on-disk sizes."""

from __future__ import annotations

import os
import statistics
import threading

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n) for the highest percentile that has at
    least ``beyond`` samples above it: the k-th smallest of n samples
    with k = n - beyond, i.e. percentile 100*k/n.  With n <= beyond no
    percentile qualifies and the maximum is reported as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    k = n - beyond
    return xs[k - 1], 100.0 * k / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def process_age_s(pid: str = "self") -> float:
    """Seconds since the process started (10 ms resolution)."""
    with open(f"/proc/{pid}/stat") as f:
        # the command name may contain spaces; fields resume after ')'
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children_map(proc: str = "/proc") -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(f"{proc}/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited between listdir and open
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its descendants."""
    kids = _children_map(proc)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def rss_bytes(pid: int, proc: str = "/proc") -> int:
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited
    return 0


def cpu_s(pid: int, proc: str = "/proc") -> float:
    """User + system CPU seconds of a process and its reaped children."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0  # exited
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


# HotSpot's JIT compiler threads (thread names are cut at 15 characters)
JIT_THREADS = frozenset({"C1 CompilerThre", "C2 CompilerThre"})


def threads_cpu_s(pid: int, names: frozenset[str], proc: str = "/proc") -> float:
    """User + system CPU seconds of the threads of ``pid`` named in ``names``."""
    try:
        tids = os.listdir(f"{proc}/{pid}/task")
    except OSError:
        return 0.0  # exited
    ticks = 0
    for tid in tids:
        try:
            with open(f"{proc}/{pid}/task/{tid}/stat") as f:
                text = f.read()
        except OSError:
            continue  # exited between listdir and open
        if text[text.index("(") + 1 : text.rindex(")")] in names:
            fields = text.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int, proc: str = "/proc") -> tuple[float, float]:
    """(CPU seconds of the process tree, the part its JIT compiler threads used)."""
    pids = tree_pids(root, proc)
    return (sum(cpu_s(p, proc) for p in pids),
            sum(threads_cpu_s(p, JIT_THREADS, proc) for p in pids))


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    return sum(rss_bytes(p, proc) for p in tree_pids(root, proc))


class PeakRss:
    """Samples the summed RSS of a process tree on a background thread;
    ``peak`` is the largest sum seen.  Use as a context manager."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = root if root is not None else os.getpid()
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) if it does not exist."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
                files += 1
            except OSError:
                continue
    return total, files
