"""End-to-end pipeline test on the reference-shaped movies_raw fixture
(FIXTURES.md §B): cleaning semantics, feature HOFs, sink schemas, and the
franchise-retrieval golden check (the reference's only correctness checks,
notebook cells 74-86)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.pipeline import (
    MOVIES_RAW_SCHEMA,
    build_features,
    clean,
    combine_features,
    get_recommendations,
    load_movies_csv,
    save_outputs,
)
from movie_recommendation_etl_spark.sources.writers import write_csv


def _franchise_row(mid, title, words, year=2001, director="Some Director"):
    kw = "[" + ",".join(f'"{w}"' for w in words) + "]"
    return (
        mid,
        title,
        10_000_000 + mid,
        5_000_000,
        f"a story about {' '.join(words)}, and more",
        f"/poster/{mid}.jpg",
        "Big Studio",
        float(year),
        director,
        "Tom Hanks",
        "Star Two",
        "Star Three",
        '["Science Fiction","Drama"]',
        kw,
    )


WIZARD = ["wizard", "school", "magic", "wand", "spell", "potion"]
HERO = ["superhero", "team", "battle", "villain", "powers", "city"]


@pytest.fixture(scope="module")
def movies_fixture(spark, tmp_path_factory):
    rows = []
    # franchise clusters (5 each) for the retrieval golden
    for i in range(5):
        rows.append(_franchise_row(100 + i, f"Wizard School {i}", WIZARD))
        rows.append(_franchise_row(200 + i, f"Hero Team {i}", HERO))
    # filler movies with distinct vocabularies
    fillers = [
        ["space", "voyage", "alien", "ship"],
        ["ocean", "storm", "sailor", "island"],
        ["desert", "gold", "bandit", "horse"],
        ["castle", "king", "crown", "war"],
        ["robot", "future", "machine", "lab"],
    ]
    for i, words in enumerate(fillers):
        rows.append(_franchise_row(300 + i, f"Filler {i}", words))
    # pathological rows (FIXTURES.md §B "required pathological rows")
    rows.append(_franchise_row(100, "Wizard School 0 DUPLICATE", WIZARD))  # dup id
    null_title = list(_franchise_row(400, None, ["whatever", "words"]))
    rows.append(tuple(null_title))  # na.drop victim
    sentinel = list(_franchise_row(401, "Sentinel Movie", ["x"]))
    sentinel[13] = "[]"  # the '[]' sentinel string
    rows.append(tuple(sentinel))
    malformed = list(_franchise_row(402, "Malformed JSON", ["y"]))
    malformed[13] = "not [ valid json"
    rows.append(tuple(malformed))
    multiline = list(
        _franchise_row(403, 'Quoted "Movie"', ["quoted", "line", "words"])
    )
    multiline[4] = "line one\nline two, with comma"
    rows.append(tuple(multiline))
    # null Director: survives clean() (Director is NOT in the fill list,
    # reference transform/execute.py:92-94) but its crews/tags concat goes
    # null, so the blank-tags filter kills it in combine_features
    rows.append(_franchise_row(404, "No Director Movie", ["lost", "reel"],
                               director=None))

    df = spark.createDataFrame(rows, MOVIES_RAW_SCHEMA)
    path = str(tmp_path_factory.mktemp("movies") / "movies_csv")
    write_csv(df, path)
    return path


def test_clean_semantics(spark, movies_fixture):
    raw = load_movies_csv(spark, movies_fixture)
    cleaned = clean(raw)
    ids = [r["id"] for r in cleaned.select("id").collect()]
    assert len(ids) == len(set(ids))  # dedup on id
    assert 400 not in ids  # null title dropped
    assert 401 not in ids  # '[]' sentinel dropped
    assert 402 not in ids  # malformed JSON -> null -> dropped
    assert 403 in ids  # multiline quoted row survives the CSV round-trip
    survivor = cleaned.filter(F.col("id") == 100).collect()
    assert len(survivor) == 1
    # deterministic survivor: lowest title alphabetically
    assert survivor[0]["title"] == "Wizard School 0"
    assert dict(cleaned.dtypes)["release_year"] == "int"
    assert dict(cleaned.dtypes)["genres_list"] == "array<string>"


def test_feature_combination_hof(spark, movies_fixture):
    cleaned = clean(load_movies_csv(spark, movies_fixture))
    feats = combine_features(cleaned)
    row = feats.filter(F.col("id") == 101).collect()[0]
    # whitespace-strip HOF: "Tom Hanks" became one token (reference
    # transform/execute.py:144-156)
    assert "TomHanks" in row["tags"]
    assert "Tom Hanks" not in row["tags"]
    # ...and the strip also covers genres and keywords (reference
    # :146-155): the multi-word genre is ONE token
    assert "ScienceFiction" in row["tags"]
    assert "Science Fiction" not in row["tags"]
    assert "ScienceFiction" in row["combined"].split(" ")
    assert "wizard" in row["combined"]
    assert isinstance(row["combined"], str)
    # null-Director row: alive after clean (no fill/drop on Director,
    # reference :92-94), dead after the blank-tags filter — because its
    # crews concat is null, exactly the reference's row-death path
    assert cleaned.filter(F.col("id") == 404).count() == 1
    assert feats.filter(F.col("id") == 404).count() == 0


def test_load_by_name_from_wide_csv(spark, movies_fixture, tmp_path):
    """The raw Kaggle file has 42 columns; the scan must bind by header name,
    not position (r2 ADVICE: a positional 14-column schema would silently
    scramble). Rebuild the fixture with extra columns interleaved ahead of
    the needed ones and assert values land under the right names."""
    import csv as _csv

    wide_dir = tmp_path / "wide_csv"
    wide_dir.mkdir()
    raw = load_movies_csv(spark, movies_fixture).collect()
    names = list(MOVIES_RAW_SCHEMA.fieldNames())
    extras = [f"extra_{i}" for i in range(28)]  # 14 + 28 = 42 columns
    # interleave: extras first and between, real columns shuffled to the back
    header = extras[:10] + names[7:] + extras[10:] + names[:7]
    with open(wide_dir / "part.csv", "w", newline="") as fh:
        w = _csv.writer(fh, quoting=_csv.QUOTE_ALL)
        w.writerow(header)
        for r in raw:
            d = r.asDict()
            w.writerow(
                [
                    ("noise" if c.startswith("extra_") else
                     ("" if d[c] is None else d[c]))
                    for c in header
                ]
            )
    df = load_movies_csv(spark, str(wide_dir))
    assert df.columns == names
    got = {r["id"]: r for r in df.collect()}
    assert got[100]["title"] in ("Wizard School 0", "Wizard School 0 DUPLICATE")
    assert got[301]["release_year"] == 2001.0
    assert got[301]["Star1"] == "Tom Hanks"
    # row count survives the round-trip (dup ids collapse only in `got`)
    assert df.count() == len(raw)


def test_end_to_end_recommend_and_sinks(spark, movies_fixture, tmp_path):
    feats = combine_features(clean(load_movies_csv(spark, movies_fixture)))
    vecs, model = build_features(feats)
    out_dir = str(tmp_path / "out")
    save_outputs(vecs, model, out_dir)

    meta = spark.read.parquet(f"{out_dir}/movie_metadata")
    assert set(meta.columns) == {"id", "title", "poster_path", "release_year"}
    master = spark.read.parquet(f"{out_dir}/master_table")
    assert set(master.columns) == {
        "id", "title", "poster_path", "revenue", "budget",
        "release_year", "genres_list",
    }
    vec_sink = spark.read.parquet(f"{out_dir}/vector")
    assert set(vec_sink.columns) == {"id", "norm_features"}
    assert meta.count() == vecs.count()

    # unpartitioned, as the reference writes them: no release_year=
    # directories, release_year an int32 column in the files themselves
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    want_ids = sorted(r["id"] for r in vecs.select("id").collect())
    for sink in ("movie_metadata", "master_table", "vector"):
        path = f"{out_dir}/{sink}"
        assert not any(d.startswith("release_year=") for d in os.listdir(path))
        table = pq.read_table(path)
        if sink != "vector":
            assert table.schema.field("release_year").type == pa.int32()
        assert sorted(table.column("id").to_pylist()) == want_ids

    # franchise retrieval golden (reference cells 74-86): a wizard movie's
    # neighbors must be dominated by wizard siblings
    recs = get_recommendations(vecs, model, 100, top_k=4)
    assert 100 not in recs
    wizard_ids = {101, 102, 103, 104}
    assert len(set(recs) & wizard_ids) >= 3
    # unknown id -> empty list (reference :1649-1651)
    assert get_recommendations(vecs, model, 999999) == []
