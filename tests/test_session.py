"""Session factory: one worker path, sized to the host."""

from __future__ import annotations

import os

from ocr_devnagari_spark.session import default_cores, driver_memory


def test_default_cores_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == len(os.sched_getaffinity(0))


def test_driver_memory_override_wins(monkeypatch):
    monkeypatch.setenv("OCRDS_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_driver_memory_quarter_of_host(monkeypatch):
    """Unset override: a quarter of physical memory (or less, under a
    lower cgroup limit), never below 1g."""
    monkeypatch.delenv("OCRDS_DRIVER_MEM", raising=False)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    got = driver_memory()
    assert got.endswith("m")
    assert 1024 <= int(got[:-1]) <= max(phys_mb // 4, 1024)


def test_driver_memory_floor(monkeypatch):
    monkeypatch.delenv("OCRDS_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (2 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert driver_memory() == "1024m"


def test_session_uses_stock_worker_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") is None
