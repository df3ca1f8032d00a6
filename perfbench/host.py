"""Host and process counters read from ``/proc`` (Linux)."""

from __future__ import annotations

import os
import statistics
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` plus its reaped children, in seconds."""
    f = _stat_fields(pid)
    # fields after the name start at state (3): utime=14 stime=15
    # cutime=16 cstime=17, so index = field - 3
    return sum(int(f[i]) for i in (11, 12, 13, 14)) / TICK


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (Spark's Python worker daemons)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds(pids: list[int]) -> float:
    """CPU seconds of ``pids`` and all their live descendants."""
    total = 0.0
    seen: set[int] = set()
    for pid in pids:
        for p in [pid, *descendants(pid)]:
            if p in seen:
                continue
            seen.add(p)
            try:
                total += cpu_seconds(p)
            except OSError:
                pass  # exited between listing and reading
    return total


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_seconds() -> float:
    """Cumulative guest steal time over all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration_seconds() -> float:
    """Median of three timings of a fixed pure-Python probe that does not
    touch the library: it shows when the host itself was slow."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t)
    return statistics.median(times)
