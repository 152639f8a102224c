"""Session defaults fit the machine the session runs on."""

from __future__ import annotations

import os

from sol_spark.session import default_cpus, default_driver_memory, session_builder


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(next(line for line in f if line.startswith("MemTotal")).split()[1]) // 1024


def test_defaults_follow_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    assert default_driver_memory() == f"{max(1024, _mem_total_mb() // 4)}m"


def test_env_overrides_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert default_cpus() == 3
    assert default_driver_memory() == "2g"


def test_builder_uses_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    opts = session_builder()._options
    assert opts["spark.driver.memory"] == "2g"
    assert opts["spark.sql.shuffle.partitions"] == "3"
    assert opts["spark.default.parallelism"] == "3"
