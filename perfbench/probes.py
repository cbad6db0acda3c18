"""Process-tree and host probes read from /proc.

The benchmark process, the Spark JVM it launches and the JVM's Python
workers form one process tree; CPU seconds and resident memory are
summed over that tree. Host noise (CPU steal, load average) is recorded
alongside, so a throttled run can be told apart from a slow one.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while the tree was walked
        return None


def descendants() -> dict[int, list[str]]:
    """pid → stat fields for every live descendant of this process."""
    children: dict[int, list[tuple[int, list[str]]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = stat_fields(entry)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append((int(entry), fields))
    out: dict[int, list[str]] = {}
    todo = [os.getpid()]
    while todo:
        for pid, fields in children.get(todo.pop(), []):
            out[pid] = fields
            todo.append(pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants,
    including descendants' reaped children (exited Python workers)."""
    t = os.times()
    total = t.user + t.system
    for fields in descendants().values():
        total += sum(int(x) for x in fields[11:15]) / _HZ
    return total


def _pss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended while the tree was walked
        pass
    return 0


def _rss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:  # the process ended while the tree was walked
        pass
    return 0


def _is_jvm(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def tree_rss_mb() -> float:
    """Resident memory of this process and its descendants. Python
    processes count their proportional set size, so a page shared by
    forked Python workers is counted once across them; the JVM, which
    shares no pages with them, counts its resident set (the same figure,
    read from a counter: PSS would walk the page tables of its multi-GB
    heap, about 60 ms of kernel time a sample)."""
    pids = ["self", *map(str, descendants())]
    return sum(_rss_kb(p) if _is_jvm(p) else _pss_kb(p) for p in pids) / 1024


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TreeSampler:
    """Background sampler of process-tree memory (peak per window) and the
    1-minute load average; also brackets host CPU steal over its life.

    Steal is field 8 of the ``cpu`` line of /proc/stat."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak_mb = 0.0
        self._loads: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._cpu0 = _cpu_line()

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        last_load = 0.0
        while not self._stop.is_set():
            rss = tree_rss_mb()
            now = time.monotonic()
            with self._lock:
                self._peak_mb = max(self._peak_mb, rss)
                if now - last_load >= 1.0:
                    self._loads.append(_load1())
                    last_load = now
            self._stop.wait(self.interval_s)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak_mb = tree_rss_mb()

    def peak_mb(self) -> float:
        with self._lock:
            return max(self._peak_mb, tree_rss_mb())

    def host(self) -> dict[str, float]:
        """Steal % of all CPU time since the sampler was created, and
        the mean and max 1-minute load average sampled meanwhile."""
        d = [b - a for a, b in zip(self._cpu0, _cpu_line())]
        with self._lock:
            loads = list(self._loads) or [_load1()]
        return {
            "steal_pct": 100.0 * d[7] / max(1, sum(d[:8])),
            "loadavg": sum(loads) / len(loads),
            "loadavg_max": max(loads),
        }
