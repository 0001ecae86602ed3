"""Host-sized session defaults: environment overrides, then host probes."""

from __future__ import annotations

import os

import pytest

from flinkexp_spark.session import default_cores, default_driver_memory

GIB = 2**30


def test_cores_env_override(monkeypatch) -> None:
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3


def test_cores_fall_back_to_cpu_affinity(monkeypatch) -> None:
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))


def test_driver_memory_env_override(monkeypatch) -> None:
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory("/nonexistent", "/nonexistent") == "3g"


@pytest.mark.parametrize(
    "cgroup_max, expected",
    [
        ("max\n", "8192m"),  # no cgroup limit: half of MemTotal
        (f"{4 * GIB}\n", "2048m"),  # cgroup below MemTotal: half the cgroup
        (f"{64 * GIB}\n", "8192m"),  # cgroup above MemTotal: half MemTotal
        (None, "8192m"),  # no cgroup v2 file: half of MemTotal
    ],
)
def test_driver_memory_from_host(tmp_path, monkeypatch, cgroup_max, expected) -> None:
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemFree:        1024 kB\nMemTotal:       {16 * GIB // 1024} kB\n"
    )
    cgroup = tmp_path / "memory.max"
    if cgroup_max is not None:
        cgroup.write_text(cgroup_max)
    assert default_driver_memory(str(meminfo), str(cgroup)) == expected


def test_driver_memory_on_this_host_is_below_physical_ram(monkeypatch) -> None:
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap_mb = int(default_driver_memory().rstrip("m"))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < heap_mb < ram_mb
