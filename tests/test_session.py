"""The default session must start on the host it is given: its heap is
derived from physical memory, and the env override still wins."""

from mimeograph_spark.session import (
    HEAP_CAP_MB,
    driver_memory,
    physical_memory_bytes,
)


def test_derived_heap_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("m"), mem
    heap_mb = int(mem[:-1])
    assert 0 < heap_mb <= HEAP_CAP_MB
    assert heap_mb << 20 < physical_memory_bytes()


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_session_uses_driver_memory(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == driver_memory()
