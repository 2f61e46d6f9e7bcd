"""Driver heap sizing from the box's memory limit (no JVM started)."""

import os

import pytest

from sqlfeatureextraction_spark.session import (
    driver_memory,
    jvm_size_bytes,
    memory_limit_bytes,
)

GiB = 1 << 30


def test_default_is_half_the_limit_clamped_to_1g_48g():
    assert driver_memory(None, limit=16 * GiB) == "8g"
    assert driver_memory("", limit=15 * GiB + GiB // 2) == "7g"
    assert driver_memory(None, limit=GiB) == "1g"
    assert driver_memory(None, limit=512 * GiB) == "48g"


def test_explicit_size_kept_within_limit_and_refused_over_it():
    assert driver_memory("1g", limit=16 * GiB) == "1g"
    assert driver_memory("6144m", limit=16 * GiB) == "6144m"
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEM=48g exceeds"):
        driver_memory("48g", limit=15 * GiB)


def test_jvm_size_parsing():
    assert jvm_size_bytes("512m") == 512 << 20
    assert jvm_size_bytes("2G") == 2 * GiB
    assert jvm_size_bytes("1024") == 1024
    with pytest.raises(ValueError):
        jvm_size_bytes("lots")


def test_limit_is_at_most_physical_memory():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < memory_limit_bytes() <= phys
