"""Driver heap default: sized from physical RAM, overridable by
``SPARK_DRIVER_MEMORY``. Checked on the pure helper, so no second JVM
starts."""

from __future__ import annotations

from python_btc_etl_spark.session import (
    MIN_DRIVER_MEMORY_MB,
    driver_memory,
    physical_memory_bytes,
)


def _mib(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_default_heap_is_below_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    got = _mib(driver_memory())
    assert got >= MIN_DRIVER_MEMORY_MB
    assert got * 2**20 < physical_memory_bytes()


def test_default_heap_is_a_quarter_of_ram_floored(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(physical_bytes=16 * 2**30) == "4096m"
    assert driver_memory(physical_bytes=2 * 2**30) == f"{MIN_DRIVER_MEMORY_MB}m"


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert driver_memory() == "2g"
    assert driver_memory(physical_bytes=2**30) == "2g"
