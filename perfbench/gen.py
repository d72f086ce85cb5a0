"""Seeded input generator for the benchmark, writing the truth its output
checks need beside the inputs.

Pure Python + NumPy (no Spark), so the same seed gives byte-identical
files on any host. Generated inputs are cached per (size, seed) under the
caller's work directory; a cache entry is valid once its ``truth.json``
exists (written last).

:func:`movies` writes a movies CSV in the reference's 14-column Kaggle
shape (duplicate ids, nulls in the required columns, ``"[]"`` keyword
sentinels, malformed JSON, names with inner spaces, multi-line quoted
overviews) plus planted franchise clusters that share keywords, crew and
title stems. Truth: the ids that survive the reference's cleaning and
feature steps, and the franchise groups. :func:`zipf_queries` and
:func:`sample_queries` draw query ids from that truth.
"""

from __future__ import annotations

import csv
import json
import os
from pathlib import Path

import numpy as np

# Function words mixed into overview prose (the TF-IDF stage removes them).
STOPWORDS = ("a", "an", "the", "of", "and", "to", "in", "is", "on", "for", "it")

_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "ch", "cr", "dr", "fl", "gr", "pl", "pr",
           "sh", "st", "th", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou")
_CODAS = ("", "", "n", "r", "s", "l", "m", "nd", "rt", "st")
_GENRES = ("Action", "Adventure", "Animation", "Comedy", "Crime",
           "Documentary", "Drama", "Family", "Fantasy", "History", "Horror",
           "Music", "Mystery", "Romance", "Science Fiction", "Thriller",
           "War", "Western")


def _vocab(n: int, seed: int = 0) -> list[str]:
    """``n`` distinct pronounceable lowercase words (seed-fixed: the
    vocabulary is part of the benchmark, not of the workload draw)."""
    rng = np.random.default_rng(seed)
    out: list[str] = []
    seen: set[str] = set(STOPWORDS)
    while len(out) < n:
        k = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(k)
        )
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _cache_dir(work: Path, kind: str, size: int, seed: int) -> Path:
    return work / "inputs" / f"{kind}-n{size}-s{seed}"


def _done(d: Path) -> bool:
    return (d / "truth.json").exists()


def _write_truth(d: Path, truth: dict) -> None:
    tmp = d / "truth.json.tmp"
    tmp.write_text(json.dumps(truth, sort_keys=True))
    os.replace(tmp, d / "truth.json")


# --------------------------------------------------------------------------
# movies
# --------------------------------------------------------------------------

MOVIE_COLUMNS = (
    "id", "title", "revenue", "budget", "overview", "poster_path",
    "production_companies", "release_year", "Director", "Star1", "Star2",
    "Star3", "genres_list", "all_combined_keywords",
)
FRANCHISE_SIZE = 12


def movies(work: Path, n_raw: int, seed: int) -> Path:
    """Generate (or reuse) ``movies.csv`` + ``truth.json`` for ``n_raw``
    raw rows. Returns the directory holding them."""
    d = _cache_dir(work, "movies", n_raw, seed)
    if _done(d):
        return d
    d.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(12000)
    kw_vocab = vocab[:6000]
    prose_vocab = vocab[2000:12000]
    people = [f"{a.title()} {b.title()}" for a, b in
              zip(vocab[6000:9000], vocab[9000:12000])]
    companies = [f"{w.title()} Pictures" for w in vocab[:800]]
    kw_p = _zipf_probs(len(kw_vocab), 0.9)
    prose_p = _zipf_probs(len(prose_vocab), 1.0)

    n_franchise_groups = max(2, n_raw // 400)
    n_unique = int(n_raw / 1.12)  # ~11% of raw rows repeat an earlier id
    ids = rng.permutation(np.arange(1, 4 * n_unique + 1))[:n_unique]

    def inflect(w: str) -> str:
        # regular inflections, so lemma induction finds attested pairs
        r = rng.random()
        if r < 0.15:
            return w + "s"
        if r < 0.22:
            return w + "ed"
        if r < 0.28:
            return w + "ing"
        return w

    def prose(n_words: int) -> str:
        words = [prose_vocab[i] for i in rng.choice(len(prose_vocab), n_words, p=prose_p)]
        stops = rng.random(n_words) < 0.25
        words = [STOPWORDS[rng.integers(len(STOPWORDS))] if s else inflect(w)
                 for w, s in zip(words, stops)]
        # comma-separated clauses (the pipeline splits overview on ',')
        cuts = sorted(set(rng.integers(1, n_words, size=max(1, n_words // 9)).tolist()))
        parts, last = [], 0
        for c in cuts + [n_words]:
            if c > last:
                parts.append(" ".join(words[last:c]))
                last = c
        return ", ".join(parts)

    rows: list[dict] = []
    franchise_of: dict[int, int] = {}
    franchise_kw = []
    for g in range(n_franchise_groups):
        franchise_kw.append({
            "stem": f"{vocab[200 + g].title()} {vocab[4000 + g].title()}",
            "kw": [kw_vocab[i] for i in rng.choice(len(kw_vocab), 14, replace=False)],
            "director": people[rng.integers(len(people))],
            "stars": [people[i] for i in rng.choice(len(people), 4, replace=False)],
            "company": companies[rng.integers(len(companies))],
            "genres": [_GENRES[i] for i in rng.choice(len(_GENRES), 2, replace=False)],
            "overview": prose(18),
        })
    for i, mid in enumerate(ids):
        mid = int(mid)
        g = i // FRANCHISE_SIZE if i < n_franchise_groups * FRANCHISE_SIZE else None
        if g is not None:
            f = franchise_kw[g]
            franchise_of[mid] = g
            kws = f["kw"] + [kw_vocab[j] for j in rng.choice(len(kw_vocab), 3, p=kw_p)]
            title = f"{f['stem']} {i % FRANCHISE_SIZE + 1}"
            director = f["director"]
            stars = list(rng.choice(f["stars"], 3, replace=False))
            company = f["company"]
            genres = f["genres"]
            overview = f["overview"] + ", " + prose(10)
        else:
            kws = [kw_vocab[j] for j in rng.choice(len(kw_vocab), int(rng.integers(4, 16)), p=kw_p)]
            title = " ".join(prose_vocab[j].title() for j in rng.choice(len(prose_vocab), int(rng.integers(1, 4))))
            director = people[rng.integers(len(people))]
            if rng.random() < 0.2:
                director += ", " + people[rng.integers(len(people))]
            stars = [people[j] for j in rng.choice(len(people), 3, replace=False)]
            company = ", ".join(companies[j] for j in rng.choice(len(companies), int(rng.integers(1, 3)), replace=False))
            genres = [_GENRES[j] for j in rng.choice(len(_GENRES), int(rng.integers(1, 4)), replace=False)]
            overview = prose(int(rng.integers(12, 60)))
        if rng.random() < 0.02:
            overview = overview.replace(", ", ",\n", 1)  # multi-line quoted field
        row = {
            "id": str(mid),
            "title": title,
            "revenue": str(int(rng.integers(0, 2_000_000_000))),
            "budget": str(int(rng.integers(0, 300_000_000))),
            "overview": overview,
            "poster_path": f"/p{mid:08d}.jpg",
            "production_companies": company,
            "release_year": f"{int(rng.integers(1950, 2025))}.0",
            "Director": director,
            "Star1": stars[0], "Star2": stars[1], "Star3": stars[2],
            "genres_list": json.dumps(genres),
            "all_combined_keywords": json.dumps(kws),
        }
        if g is None:
            # pathologies only on non-franchise rows, so every franchise
            # survives intact and the sibling check has full groups
            r = rng.random()
            if r < 0.07:
                row[("title", "release_year", "overview", "poster_path",
                     "all_combined_keywords")[rng.integers(5)]] = ""
            elif r < 0.17:
                row["all_combined_keywords"] = "[]"
            elif r < 0.22:
                row["all_combined_keywords"] = row["all_combined_keywords"][:-2]
            elif r < 0.25:
                row["genres_list"] = row["genres_list"][:-1]
            elif r < 0.29:
                row["Director"] = ""
            elif r < 0.33:
                row["Star2"] = ""  # filled with 'a', row survives
        rows.append(row)

    # duplicate ids: copies of earlier rows (exact, or with a title that
    # sorts after the original so the survivor is always the original)
    n_dup = n_raw - len(rows)
    src = rng.integers(0, len(rows), size=n_dup)
    for j in src:
        dup = dict(rows[int(j)])
        if rng.random() < 0.5 and dup["title"]:
            dup["title"] = dup["title"] + " (Re-release)"
        rows.append(dup)
    order = rng.permutation(len(rows))
    rows = [rows[int(k)] for k in order]

    with open(d / "movies.csv", "w", newline="", encoding="utf-8") as fh:
        w = csv.DictWriter(fh, fieldnames=MOVIE_COLUMNS, quoting=csv.QUOTE_MINIMAL,
                           lineterminator="\n")
        w.writeheader()
        w.writerows(rows)

    survivors = sorted(_movie_survivors(rows))
    groups: dict[int, list[int]] = {}
    for mid, g in franchise_of.items():
        groups.setdefault(g, []).append(mid)
    _write_truth(d, {
        "n_raw": len(rows),
        "survivor_ids": survivors,
        "franchises": [sorted(v) for _, v in sorted(groups.items())],
        "csv_bytes": (d / "movies.csv").stat().st_size,
    })
    return d


def _movie_survivors(rows: list[dict]) -> set[int]:
    """Ids the pipeline keeps: per id the row with the smallest non-empty
    title survives (``pipeline.clean``'s dedup order), then the required-
    column, ``"[]"``, JSON and empty-Director drops. Empty CSV fields read
    back as null."""
    best: dict[str, dict] = {}
    for r in rows:
        cur = best.get(r["id"])
        if cur is None or _title_key(r) < _title_key(cur):
            best[r["id"]] = r
    keep = set()
    for mid, r in best.items():
        if any(r[c] == "" for c in ("title", "release_year", "overview",
                                   "poster_path", "all_combined_keywords")):
            continue
        if r["all_combined_keywords"] == "[]":
            continue
        try:
            json.loads(r["genres_list"])
            json.loads(r["all_combined_keywords"])
        except json.JSONDecodeError:
            continue
        if r["Director"] == "":
            continue
        keep.add(int(mid))
    return keep


def _title_key(r: dict) -> tuple:
    return (r["title"] == "", r["title"])


# --------------------------------------------------------------------------
# query streams
# --------------------------------------------------------------------------


def _ranked_ids(truth: dict, rng) -> list[int]:
    """Surviving ids in a seeded popularity order where every third rank
    is a franchise member, so franchise queries are common."""
    fr = [m for g in truth["franchises"] for m in g]
    fr_set = set(fr)
    others = [i for i in truth["survivor_ids"] if i not in fr_set]
    fr_perm = rng.permutation(fr).tolist()
    ot_perm = rng.permutation(others).tolist()
    ranked: list[int] = []
    while fr_perm or ot_perm:
        if fr_perm:
            ranked.append(fr_perm.pop())
        for _ in range(2):
            if ot_perm:
                ranked.append(ot_perm.pop())
    return ranked


def zipf_queries(truth: dict, seed: int, n: int, s: float) -> list[int]:
    """``n`` query ids drawn with ``seed`` from a Zipf(``s``) over the ids
    ranked by popularity. The ranking belongs to the corpus, not the seed:
    the top id takes ~30% of requests, so a per-seed ranking made a run's
    latency depend on which doc came first (p50 spread 0.37 across seeds,
    the same seeds repeating their latencies)."""
    ranked = _ranked_ids(truth, np.random.default_rng(3))
    p = _zipf_probs(len(ranked), s)
    rng = np.random.default_rng([seed, 3])
    return [int(ranked[i]) for i in rng.choice(len(ranked), n, p=p)]


def sample_queries(truth: dict, seed: int, frac: float, min_n: int) -> list[int]:
    """A seeded sample of ``frac`` of the surviving ids (at least
    ``min_n``), a third of them franchise members."""
    rng = np.random.default_rng([seed, 4])
    ranked = _ranked_ids(truth, rng)
    n = max(min_n, int(round(frac * len(truth["survivor_ids"]))))
    return sorted(int(i) for i in ranked[:n])
