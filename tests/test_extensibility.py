"""Approx-distinct accuracy (q44)."""

from __future__ import annotations

from movie_recommendation_etl_spark.plans.registry import QUERIES
import movie_recommendation_etl_spark.plans.all  # noqa: F401


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """q44's contract booleans must hold (they are what the DuckDB oracle
    hash-gates since r11), and the raw estimator must sit inside the
    tighter 5% band when queried directly."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.sources.catalog import load_table

    rows = QUERIES["q44_approx_count_distinct"](spark, sf_dir).collect()
    assert {r["arm"] for r in rows} == {"oneshot", "store"}
    for row in rows:  # r13: both the one-shot and the store arm must hold
        assert row["orders_within_3rsd"] and row["parts_within_3rsd"]
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("a"),
        F.count_distinct("l_orderkey").alias("e"),
    ).collect()[0]
    assert abs(raw["a"] - raw["e"]) <= 0.05 * raw["e"]
