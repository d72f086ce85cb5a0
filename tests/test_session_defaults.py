"""Session defaults derived from the host (no Spark needed)."""

from __future__ import annotations

import os

from movie_recommendation_etl_spark.session import default_driver_memory


def _to_mb(size: str) -> int:
    unit = {"m": 1, "g": 1024}[size[-1]]
    return int(size[:-1]) * unit


def test_driver_memory_default_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys_mb = (
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    )
    got = _to_mb(default_driver_memory())
    assert 0 < got <= phys_mb // 2
    assert got <= 16 * 1024


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
