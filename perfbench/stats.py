"""Small, Spark-free arithmetic the benchmark reports with.

Kept apart from the runners so the self-tests can pin it without a
Spark session.
"""

from __future__ import annotations

import os
import statistics
import threading


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_latency(values, beyond: int = 10) -> dict | None:
    """The highest percentile that still has ``beyond`` samples above
    it: the ``beyond + 1``-th largest value, at percentile
    ``100 * (n - beyond) / n``.

    Returns ``None`` when that percentile would not lie above the
    median (``n - beyond <= n / 2``, i.e. ``n <= 2 * beyond``): the
    "tail" would then say nothing the median does not.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= 2 * beyond:
        return None
    return {
        "value": xs[n - beyond - 1],
        "percentile": round(100.0 * (n - beyond) / n, 2),
        "n": n,
    }


def interval_union(intervals) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """Duration of ``[start, end]`` not covered by any child interval
    (children may overlap each other and stick out of the parent)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - interval_union(clipped)


# ---------------------------------------------------------------------------
# resident memory from /proc (psutil is not a dependency)


def ppid_map(proc_root: str) -> dict[int, int]:
    """pid -> parent pid for every process visible under ``proc_root``."""
    out = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, name, "stat")) as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command field is parenthesised and may hold spaces
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(roots, ppid_map: dict[int, int]) -> set[int]:
    """``roots`` plus every process below them in ``ppid_map``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in ppid_map.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = set(), [r for r in roots if r is not None]
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        stack.extend(children.get(pid, ()))
    return seen


def rss_bytes(pid: int, proc_root: str = "/proc") -> int:
    """Resident set size of one process (0 if it is gone)."""
    try:
        with open(os.path.join(proc_root, str(pid), "status")) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of a process tree on a background thread
    and keeps the peak. ``roots`` is a callable so the JVM pid can be
    added once the session exists."""

    def __init__(self, roots, interval: float = 0.2, proc_root: str = "/proc"):
        self._roots = roots
        self._interval = interval
        self._proc_root = proc_root
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0

    def sample(self) -> int:
        pids = descendants(self._roots(), ppid_map(self._proc_root))
        total = sum(rss_bytes(p, self._proc_root) for p in pids)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


def steal_seconds() -> float:
    """CPU time the hypervisor took from this machine since boot,
    summed over CPUs: a slow run on a shared host shows it here."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


