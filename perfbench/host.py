"""Host telemetry and host-sized Spark settings.

The telemetry reads ``/proc`` directly, so an artifact can say which host
state a number was taken in: core count, memory, CPU steal and busy shares
around each timed phase, load average and driver RSS.
"""

from __future__ import annotations

import os
import time


def meminfo_mb() -> dict[str, float]:
    out: dict[str, float] = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) / 1024.0
    return out


def driver_heap_mb(mem_total_mb: float) -> int:
    """A quarter of physical memory, clamped to [1 GiB, 8 GiB]: the JVM heap
    must stay well below RAM, which also holds the Python driver, the Python
    workers and the page cache."""
    return int(min(8192, max(1024, mem_total_mb // 4)))


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, busy, total) jiffies from the aggregate ``cpu`` line of
    /proc/stat. Busy is everything but idle, iowait and steal."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    vals += [0] * (8 - len(vals))
    idle, iowait, steal = vals[3], vals[4], vals[7]
    total = sum(vals[:8])
    return steal, total - idle - iowait - steal, total


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        resident_pages = int(f.read().split()[1])
    return resident_pages * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds used so far by process ``root`` and every
    process below it (the JVM, its Python workers), reaped children
    included. Time the hypervisor gives to other guests is steal, not CPU
    time, so this reads the same on a busy host as on a quiet one."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listing and reading
        # after "pid (comm) ": state, ppid, ..., utime, stime, cutime, cstime
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p != root and p in parent:
            p = parent[p]
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


class PhaseLog:
    """Host samples around each timed phase, kept in memory."""

    def __init__(self) -> None:
        self.phases: list[dict] = []

    def phase(self, name: str) -> "_Phase":
        return _Phase(self, name)

    def totals(self) -> dict[str, float]:
        """Steal and busy shares over all phases together, and the mean
        1-minute load average seen at phase boundaries."""
        steal = sum(p["steal_ticks"] for p in self.phases)
        busy = sum(p["busy_ticks"] for p in self.phases)
        total = sum(p["total_ticks"] for p in self.phases)
        loads = [p["loadavg_start"] for p in self.phases] + [
            p["loadavg_end"] for p in self.phases
        ]
        return {
            "steal_pct": 100.0 * steal / max(1, total),
            "busy_pct": 100.0 * busy / max(1, total),
            "loadavg": sum(loads) / max(1, len(loads)),
        }


class _Phase:
    def __init__(self, log: PhaseLog, name: str) -> None:
        self.log = log
        self.name = name

    def __enter__(self) -> "_Phase":
        self.load0 = loadavg()
        self.rss0 = rss_mb()
        self.ticks0 = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        wall = time.perf_counter() - self.t0
        steal1, busy1, total1 = cpu_ticks()
        steal0, busy0, total0 = self.ticks0
        total = max(1, total1 - total0)
        self.log.phases.append({
            "phase": self.name,
            "wall_s": wall,
            "steal_ticks": steal1 - steal0,
            "busy_ticks": busy1 - busy0,
            "total_ticks": total1 - total0,
            "steal_pct": 100.0 * (steal1 - steal0) / total,
            "busy_pct": 100.0 * (busy1 - busy0) / total,
            "loadavg_start": self.load0,
            "loadavg_end": loadavg(),
            "rss_mb_start": self.rss0,
            "rss_mb_end": rss_mb(),
        })
