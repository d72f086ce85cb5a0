"""Generator checks: the same seed gives byte-identical inputs, and the
planted counts match the spec the output checks rely on.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402

MOVIES_N = 2000


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir()) if p.is_file()}


def test_same_seed_same_bytes(tmp_path):
    a = _files(gen.movies(tmp_path / "a", MOVIES_N, 7))
    b = _files(gen.movies(tmp_path / "b", MOVIES_N, 7))
    c = _files(gen.movies(tmp_path / "c", MOVIES_N, 8))
    assert a == b
    assert a != c


def test_cached_inputs_are_reused(tmp_path):
    d = gen.movies(tmp_path, MOVIES_N, 3)
    stamp = (d / "movies.csv").stat().st_mtime_ns
    assert gen.movies(tmp_path, MOVIES_N, 3) == d
    assert (d / "movies.csv").stat().st_mtime_ns == stamp


def test_movies_planted_counts(tmp_path):
    d = gen.movies(tmp_path, MOVIES_N, 5)
    truth = json.loads((d / "truth.json").read_text())
    assert truth["n_raw"] == MOVIES_N
    drop = 1 - len(truth["survivor_ids"]) / MOVIES_N
    assert 0.30 <= drop <= 0.45  # the reference dropped 43.7%
    fr = truth["franchises"]
    assert len(fr) == MOVIES_N // 400
    assert all(len(g) == gen.FRANCHISE_SIZE for g in fr)
    assert {m for g in fr for m in g} <= set(truth["survivor_ids"])
    text = (d / "movies.csv").read_text()
    assert ",[]\n" in text  # keyword sentinel rows (last column)
    assert "(Re-release)" in text  # duplicate ids with a later-sorting title


def test_query_streams(tmp_path):
    truth = json.loads((gen.movies(tmp_path, MOVIES_N, 5) / "truth.json").read_text())
    alive = set(truth["survivor_ids"])
    franchise = {m for g in truth["franchises"] for m in g}
    qs = gen.zipf_queries(truth, 5, 60, 1.3)
    assert qs == gen.zipf_queries(truth, 5, 60, 1.3)
    assert set(qs) <= alive
    repeats = sum(q in set(qs[:i]) for i, q in enumerate(qs)) / len(qs)
    assert 0.3 <= repeats <= 0.7  # "about half" repeat an earlier id
    assert set(qs) & franchise
    sample = gen.sample_queries(truth, 5, 0.005, 16)
    assert len(sample) == 16 and set(sample) <= alive and set(sample) & franchise
