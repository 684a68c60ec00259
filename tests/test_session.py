"""The session factory's pure settings derivations."""

from __future__ import annotations

import pytest

from ducklakexl_spark import session
from ducklakexl_spark.session import (
    default_driver_mem,
    driver_memory,
    max_result_size,
    memory_limit,
)

GiB = 1024**3


@pytest.mark.parametrize(
    "driver_mem, want",
    [
        ("48g", "8192m"),  # capped
        ("16g", "8192m"),
        ("8g", "4096m"),  # half the heap
        ("4G", "2048m"),
        ("2gb", "1024m"),
        ("1536m", "768m"),
        ("1024", "512m"),  # a bare number is MiB, as in Spark
        ("1t", "8192m"),
        ("2097152k", "1024m"),
    ],
)
def test_max_result_size_is_half_the_driver_capped_at_8g(driver_mem, want):
    assert max_result_size(driver_mem) == want


@pytest.mark.parametrize(
    "limit, want",
    [
        (16 * GiB, "8192m"),  # half the memory
        (15 * GiB + 700 * 1024**2, "8030m"),
        (4 * GiB, "2048m"),
        (512 * 1024**2, "512m"),  # at least 512m
        (96 * GiB, "49152m"),
        (1024 * GiB, "49152m"),  # at most 48g
    ],
)
def test_default_driver_heap_is_half_the_memory_limit(limit, want):
    assert default_driver_mem(limit) == want


def test_memory_limit_takes_a_cgroup_limit_below_physical_memory(tmp_path):
    physical = memory_limit(str(tmp_path / "absent"))
    cgroup = tmp_path / "memory.max"
    cgroup.write_text(f"{2 * GiB}\n")
    assert memory_limit(str(cgroup)) == min(2 * GiB, physical)
    cgroup.write_text(f"{physical + GiB}\n")
    assert memory_limit(str(cgroup)) == physical
    cgroup.write_text("max\n")  # no limit set
    assert memory_limit(str(cgroup)) == physical


def test_driver_memory_overrides_win_over_the_host_size(monkeypatch):
    monkeypatch.setattr(session, "memory_limit", lambda: 6 * GiB)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory() == "3072m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"
    assert driver_memory({"spark.driver.memory": "5g"}) == "5g"


def test_tungsten_pages_are_one_mib(spark):
    # not the page size Spark derives from the heap (several MiB): a page
    # in use at a young collection would outgrow the survivor space
    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == 1024 * 1024
