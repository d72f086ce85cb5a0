"""Session defaults: derived from the host, and usable from any directory."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from movie_recommendation_etl_spark.session import default_driver_memory

REPO = Path(__file__).resolve().parents[1]


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


def test_python_workers_import_package_outside_repo(tmp_path):
    # A driver that finds the package only through sys.path, started from
    # another directory: q48's mapInPandas summary unpickles a function of
    # operators.sketches on the executors, so the workers must import it.
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from movie_recommendation_etl_spark.operators.sketches import mg_candidates
from movie_recommendation_etl_spark.session import get_spark

spark = get_spark(app_name="worker_pythonpath")
df = spark.range(90).selectExpr("id % 3 AS k")
print("KEYS", sorted(r.k for r in mg_candidates(df, "k", 3).collect()))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "KEYS [0, 1, 2]" in run.stdout
