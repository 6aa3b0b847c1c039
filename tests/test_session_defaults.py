"""Session defaults follow the host: width from the CPU affinity mask,
driver heap a clamped quarter of physical memory."""

import os

from splade_spark.session import default_cpus, default_driver_heap_mb


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_driver_heap_below_physical_memory():
    heap = default_driver_heap_mb()
    assert 1024 <= heap <= 8192
    assert heap < _mem_total_mb()


def test_default_cpus_follows_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
