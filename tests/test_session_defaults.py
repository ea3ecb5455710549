"""Session defaults fit the host they start on: the driver heap is derived
from the host's physical memory, never a fixed figure larger than it."""

from __future__ import annotations

import os

import pytest

from metacheck_spark.session import default_cpus, default_driver_memory


def _memtotal_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_default_driver_memory_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= _memtotal_mb()


def test_session_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_driver_memory() == "3g"
    assert default_cpus() == "3"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == str(os.cpu_count())
