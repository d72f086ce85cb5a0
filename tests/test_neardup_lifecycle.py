"""r16 (VERDICT r15 #4): fuzzy dedup composed into the trainprep lifecycle —
the neardup_dedup operator (pairs -> connected components -> min-id survivor)
and the trainprep --neardup stage, proven active on planted near-identical
templates that EXACT dedup cannot catch."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from movie_recommendation_etl_spark.cli import main
from movie_recommendation_etl_spark.operators.neardup import neardup_dedup


def _template(group: int, variant: int, salt: str = "") -> str:
    """Near-identical within a group: ~120 shared tokens + 2 variant tokens
    at the end — high shingle-Jaccard (>> 0.8) but not byte-identical, so
    curation's exact fingerprint dedup keeps every variant."""
    body = " ".join(
        f"the grp{group}w{j}{salt} and common{group}tok{j}" for j in range(30)
    )
    return f"{body} variant{variant}unique tail{variant}marker"


def test_neardup_dedup_operator(spark):
    rows = (
        [(i, _template(0, i)) for i in range(3)]  # cluster, min id 0
        + [(10 + i, _template(1, i)) for i in range(4)]  # cluster, min 10
        + [
            (100 + i, " ".join(f"solo{100 + i}x{j} only{j}" for j in range(40)))
            for i in range(5)
        ]  # singletons
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "extra", F.col("doc_id") * 2
    )
    stats: dict = {}
    out = neardup_dedup(docs, threshold=0.7, stats=stats)
    assert out.columns == docs.columns  # schema passes through
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 10, 100, 101, 102, 103, 104]
    assert stats["neardup_losers"] == 5
    # r17: small graphs resolve on the driver union-find fast path
    # (rounds == 0, fast_path_edges reported); the distributed path's
    # round counts are pinned in tests/test_graph_property.py
    assert stats["cc_rounds"] == 0 and "fast_path_edges" in stats


def test_neardup_dedup_no_duplicates_is_identity(spark):
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"uniq{i}a{j} word{i}b{j}" for j in range(40)))
            for i in range(6)
        ],
        "doc_id long, text string",
    )
    stats: dict = {}
    out = neardup_dedup(docs, stats=stats)
    assert out.count() == 6
    assert stats["neardup_losers"] == 0


def test_cli_trainprep_neardup_stage(capsys, spark, tmp_path):
    """--neardup drops near-identical template variants between curation and
    chunking; min-id survivors reach the shards; packing still conserves the
    chunked token count exactly."""

    def stopwordy(i):
        # passes lang/quality/repetition gates (q41 heuristics)
        return " ".join(
            f"the wordtoken{i}x{j} another{i}y{j}" for j in range(60)
        )

    def near(i, v):
        base = " ".join(
            f"the shared{i}x{j} another{i}y{j}" for j in range(60)
        )
        return f"{base} the variant{v}marker another{v}tail"

    rows = (
        [(i, stopwordy(i)) for i in range(10)]
        + [(50 + v, near(0, v)) for v in range(3)]  # near-dup cluster -> 50
        + [(60 + v, near(1, v)) for v in range(3)]  # near-dup cluster -> 60
    )
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out = str(tmp_path / "prep")
    assert (
        main(
            [
                "trainprep", src, out, "--neardup",
                "--chunk-tokens", "32", "--overlap-tokens", "8",
                "--seq-len", "64", "--num-shards", "2",
            ]
        )
        == 0
    )
    captured = capsys.readouterr()
    assert "neardup: dropped 4 near-duplicate doc(s)" in captured.err
    # r17 (VERDICT r16 #7): the stage summary surfaces the guard counters
    # so a production run sees when the bucket guard fired without
    # re-running with logging cranked up
    assert "0 overflow bucket(s)" in captured.err
    summary = json.loads(captured.out.strip().splitlines()[-1])
    # token conservation through shards -> packing survives the new stage
    assert summary["pack_map"]["n_tokens"] == summary["shards"]["n_tokens"]

    shard_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/shards")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert shard_ids == set(range(10)) | {50, 60}  # min-id survivors only
