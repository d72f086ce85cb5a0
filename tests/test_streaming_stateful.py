"""Streaming Misra-Gries twin (streaming.heavy_hitters): after draining a
stream across several micro-batches, the candidate state must honour the
batch operator's superset theorem and its driver-side bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_recommendation_etl_spark.sources.catalog import load_table


def test_streaming_mg_candidates_superset_and_exact_confirm(
    spark, sf_dir, tmp_path
):
    """Streaming Misra-Gries twin: after draining a multi-trigger word
    stream, (a) per-bucket state stayed bounded (≤ k rows), (b) the final
    candidate union is a superset of every key with frequency > N/(k+1)
    — the same theorem the batch operator rests on, now under streaming
    arrival order — and (c) an exact confirm over the stored corpus
    reproduces the batch heavy_hitters answer bit-for-bit."""
    from movie_recommendation_etl_spark.operators.sketches import (
        heavy_hitters,
    )
    from movie_recommendation_etl_spark.streaming.heavy_hitters import (
        streaming_mg_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("gram")
    )
    src = str(tmp_path / "grams_src")
    words.repartition(6).write.mode("overwrite").parquet(src)

    k, n_buckets, phi = 40, 4, 1.0 / 40
    stream = (
        spark.readStream.schema("gram string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        streaming_mg_candidates(stream, k=k, n_buckets=n_buckets)
        .writeStream.format("memory")
        .queryName("mg_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = spark.table("mg_stream").collect()
    assert emitted, "stream emitted nothing"
    # final summary per bucket = rows carrying that bucket's max n_seen
    last_seen: dict[int, int] = {}
    for r in emitted:
        last_seen[r["bucket"]] = max(
            last_seen.get(r["bucket"], 0), r["n_seen"]
        )
    cands = {
        r["gram"]
        for r in emitted
        if r["n_seen"] == last_seen[r["bucket"]]
    }
    per_bucket_rows: dict[int, int] = {}
    for r in emitted:
        if r["n_seen"] == last_seen[r["bucket"]]:
            per_bucket_rows[r["bucket"]] = (
                per_bucket_rows.get(r["bucket"], 0) + 1
            )
    assert all(v <= k for v in per_bucket_rows.values())

    n = words.count()
    exact_heavy = {
        r["gram"]
        for r in words.groupBy("gram")
        .count()
        .filter(F.col("count") > n / (k + 1))
        .collect()
    }
    assert exact_heavy <= cands  # superset under streaming order

    # exact confirm over the stored corpus == the batch operator
    batch_out = {
        (r["gram"], r["cnt"])
        for r in heavy_hitters(
            words, "gram", phi=phi, key_name="gram"
        ).collect()
    }
    confirm = {
        (r["gram"], r["count"])
        for r in words.filter(F.col("gram").isin(*cands))
        .groupBy("gram")
        .count()
        .filter(F.col("count") > n * phi)
        .collect()
    }
    assert confirm == batch_out
    # state genuinely accumulated across multiple triggers
    assert len(emitted) > len(per_bucket_rows)


def test_drain_mg_candidates_driver_retention_bounded(spark, tmp_path):
    """r13 VERDICT #4: the drain's DRIVER retention must stay ≤ n_buckets·k
    rows at every point of a long availableNow drain (the prior memory
    sink kept every update-mode emission — linear in trigger count), and
    the returned summary must still be each bucket's final emission (hot
    keys survive; per-bucket rows share one n_seen)."""
    from movie_recommendation_etl_spark.streaming.heavy_hitters import (
        drain_mg_candidates,
    )

    rows = [
        ("hot",) if i % 2 == 0 else ("w%d" % ((i * 7919) % 197),)
        for i in range(6600)
    ]
    src = str(tmp_path / "grams_src")
    spark.createDataFrame(rows, "gram string").repartition(22).write.mode(
        "overwrite"
    ).parquet(src)

    k, n_buckets = 10, 2
    stream = (
        spark.readStream.schema("gram string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stats: dict = {}
    final = drain_mg_candidates(
        spark, stream, k=k, n_buckets=n_buckets, stats=stats
    ).collect()

    assert stats["n_batches"] >= 20  # the drain genuinely ran many triggers
    assert stats["max_held_rows"] <= n_buckets * k  # bounded at EVERY point
    assert 0 < len(final) <= n_buckets * k
    # each bucket's returned rows are ONE emission (a single n_seen)
    per_bucket_nseen: dict[int, set[int]] = {}
    for r in final:
        per_bucket_nseen.setdefault(r["bucket"], set()).add(r["n_seen"])
    assert all(len(s) == 1 for s in per_bucket_nseen.values())
    # N/(k+1) = 600 < freq("hot") = 3300 -> MG guarantees survival
    assert "hot" in {r["gram"] for r in final}


def test_drain_mg_candidates_rightsizes_and_restores_conf(spark, tmp_path):
    """r20: the drain clamps spark.sql.shuffle.partitions to the bucket
    bound for its own streaming query (partitions beyond n_buckets are
    provably empty state stores) and must restore the session value on
    every exit — including when the source is broken."""
    import pytest as _pytest

    from movie_recommendation_etl_spark.streaming.heavy_hitters import (
        drain_mg_candidates,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    src = str(tmp_path / "grams_conf")
    spark.createDataFrame(
        [("a",), ("b",), ("a",)], "gram string"
    ).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("gram string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    final = drain_mg_candidates(spark, stream, k=5, n_buckets=2)
    assert spark.conf.get(key) == before
    assert {r["gram"] for r in final.collect()} == {"a", "b"}

    # failure path: a poisoned gram column kills the drain mid-query; the
    # conf must still be restored
    from pyspark.sql import functions as F

    def _boom(s):
        raise ValueError("boom")

    bad = (
        spark.readStream.schema("gram string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).select(F.udf(_boom, "string")("gram").alias("gram"))
    with _pytest.raises(Exception):
        drain_mg_candidates(spark, bad, k=5, n_buckets=2)
    assert spark.conf.get(key) == before
