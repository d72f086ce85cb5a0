"""Physical-plan regression tests: lock in the scale properties VERDICT.md
grades — broadcasts on small dims, filter/limit pushdown into scans, top-k
as TakeOrderedAndProject, no cartesian products, no Python row UDFs in
relational plans. A refactor that silently degrades a plan (e.g. loses a
broadcast and shuffles a dimension at 100 TB) fails here, not in production.
"""

from __future__ import annotations

import re

import pytest

from movie_recommendation_etl_spark.plans.registry import ORACLE, QUERIES
import movie_recommendation_etl_spark.plans.all  # noqa: F401


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def oracle_plans(spark, sf_dir) -> dict[str, str]:
    """Every oracled query's physical plan, built once and shared by the
    registry-wide sweeps below (a build is a full planning pass, and some
    queries run a streaming drain or an index build to plan)."""
    return {name: _plan(spark, sf_dir, name) for name in sorted(ORACLE)}


def test_broadcast_and_topk_q02(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_top_revenue_orders")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_exact_dedup_paths_have_no_window(spark, sf_dir):
    """r16 (VERDICT r15 #1): the exact-dedup survivor pick must stay a
    map-side-combinable aggregate on the registry paths — a Window here
    serializes a viral identical document into one sorting task (AQE
    cannot split window partitions)."""
    q42 = _plan(spark, sf_dir, "q42_exact_dedup_fingerprint")
    assert "Window" not in q42
    assert "partial_min" in q42  # min+count partial halves present
    q18 = _plan(spark, sf_dir, "q18_first_order_per_customer")
    assert "Window" not in q18
    assert "partial_min_by" in q18


def test_lookup_expr_suite_pushdown(spark, sf_dir):
    # merged q33+q34: BOTH scans must keep their pushed filters — the
    # 1-row cross join combine must not block pushdown on either side
    plan = _plan(spark, sf_dir, "q33_lookup_expr_suite")
    assert re.search(r"PushedFilters: \[.*EqualTo\(c_custkey,42\)", plan)
    assert re.search(r"PushedFilters: \[.*l_discount", plan)
    # column pruning: the lineitem scan must not read unused wide columns
    m = [
        s for s in re.findall(r"ReadSchema: ([^\n]*)", plan)
        if "l_extendedprice" in s
    ]
    assert m and all("l_comment" not in s for s in m)


def test_in_subquery_becomes_semi_join(spark, sf_dir):
    # the IN-subquery arm folded into q33 (VERDICT.md r5 #1) must still
    # rewrite to a left-semi join with the dimension side broadcast
    plan = _plan(spark, sf_dir, "q33_lookup_expr_suite")
    assert "LeftSemi" in plan


def test_range_join_broadcasts_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q46_range_band_join")
    assert "BroadcastNestedLoopJoin" in plan


def test_no_cartesian_products_anywhere(oracle_plans):
    for name, plan in oracle_plans.items():
        assert "CartesianProduct" not in plan, name


def test_no_python_row_udfs_in_relational_plans(oracle_plans):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned everywhere.
    The Arrow-batched hop (ArrowEvalPython) is sanctioned in EXACTLY one
    oracled plan: q40's lemma arm, which hash-gates the
    BroadcastLemmatizer pandas_udf stage the TF-IDF pipeline runs — any
    other query growing an Arrow node means a built-in expression silently
    degraded to Python."""
    arrow_allowed = {"q40_text_profile_suite"}
    for name, plan in oracle_plans.items():
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name
        if name not in arrow_allowed:
            assert "ArrowEvalPython" not in plan, name
        else:
            assert "ArrowEvalPython" in plan, name


def test_minhash_signature_stays_hash_aggregate(spark, sf_dir):
    """q50's signature agg must be a HashAggregate: min over hex STRINGS
    has an immutable buffer and silently degrades to SortAggregate (two
    full sorts of the exploded shingle rows) — the long-conversion keeps it
    hash-based."""
    plan = _plan(spark, sf_dir, "q50_minhash_lsh_neardup")
    assert "SortAggregate" not in plan


def test_sample_prunes_text_column(spark, sf_dir):
    """Both sampling arms key on md5(doc_id): no scan in the suite may read
    the wide text column (the predicates need doc_id only; output adds
    lang)."""
    plan = _plan(spark, sf_dir, "q58_sampling_suite")
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    assert schemas and all("text" not in s for s in schemas)


def test_weighted_sample_two_stage_topk(spark, sf_dir):
    """q58's weighted arm must NEVER feed the full documents scan into a
    window partitioned by lang alone — a window partition cannot be split
    (AQE skew handling covers joins only), so that shape is one straggler
    reducer per language at 100 TB. The two-stage form shuffles the scan
    over (lang, __tk_salt) first; lang-only window partitions may then see
    only bounded inputs (the stage-1 rank-filter survivors, or the
    stratified arm's admission-filtered rows)."""
    plan = _plan(spark, sf_dir, "q58_sampling_suite")
    # stage 1: the corpus-sized exchange carries the salt
    assert re.search(r"Exchange hashpartitioning\(lang#\d+, __tk_salt", plan)
    # stage 2 (the lang-only es_key window) must sit ABOVE the stage-1
    # rank filter: in its printed subtree the __tk_rn1 filter appears
    # before any FileScan — i.e. the raw scan never reaches a per-lang
    # window partition directly
    m = re.search(r"Window \[[^\n]*windowspecdefinition\(lang#\d+, es_key", plan)
    assert m, plan
    subtree = plan[m.start():]
    rank_at = subtree.find("__tk_rn1")
    scan_at = subtree.find("FileScan")
    assert rank_at != -1 and (scan_at == -1 or rank_at < scan_at), subtree


def test_simhash_hashes_each_token_once(spark, sf_dir):
    """simhash16 must md5 each token ONCE (transform over the token array)
    and fold votes over the hashed list. The per-bit-outer form evaluates
    md5 inside a lambda nested under the 16-bit transform — Catalyst does
    not CSE across nested lambdas, so it costs 16x (r2 VERDICT #5)."""
    df = QUERIES["q51_twin_similarity_suite"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # the hashing transform over the raw token array exists...
    assert re.search(r"transform\(split\([^\n]*?lambdafunction\(md5\(", analyzed)
    # ...and no aggregate folds the RAW token array (the 16x-md5 shape
    # aggregated split(text) directly with md5 inside its merge lambda; the
    # fixed shape aggregates transform(split(...), md5) instead)
    assert "aggregate(split(" not in analyzed


def test_tfidf_cosine_broadcasts_query_side(spark, sf_dir):
    """q71's sparse dot joins the 5-query weight rows against the corpus on
    term — the query side must broadcast so the corpus never shuffles for
    the join."""
    plan = _plan(spark, sf_dir, "q71_tfidf_cosine_topk")
    assert "BroadcastHashJoin" in plan


def test_single_shuffle_for_window_suite(spark, sf_dir):
    """q38's two window specs share the o_custkey partition — exactly one
    exchange may appear."""
    plan = _plan(spark, sf_dir, "q38_rank_suite")
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """q76's BATCH arm: the contamination check must ride the training
    scan as a broadcast hash join on the gram key (the eval side is small
    by construction) with exactly ONE Exchange — the doc-id aggregation. A
    shuffled gram join here means re-shuffling the 100 TB training side
    per eval refresh. Asserted on the batch arm alone — the full registry
    slot is now a 3-arm union and the bloom arm legitimately carries its
    own doc-keyed exchanges (candidate confirm; its Python-free probe
    plan is pinned in tests/test_curate_pipeline.py)."""
    from movie_recommendation_etl_spark.plans.text_analysis import (
        q76_batch_arm,
    )

    df = q76_batch_arm(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the TRAINING side shuffles exactly once (doc-id agg); the only other
    # exchange allowed is the tiny eval-gram distinct under the broadcast
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """q77: exactly one Exchange (the per-shard window's hash partitioning);
    the sequence-span explode and all offset math ride that stage. A second
    shuffle here would re-move the 100 TB token stream for arithmetic."""
    plan = _plan(spark, sf_dir, "q77_pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Generate explode" in plan


def test_trainprep_composed_shuffle_shape(spark, sf_dir):
    """q80 (curate → perplexity band → decontaminate → substring dedup →
    chunk → pack composed): the curation and band/decon segments run ONCE
    each behind their checkpoints (their shuffle shapes are guarded by
    q72/q79/q76's own tests), so the FINAL plan is exactly the substring +
    chunk + pack segment — three DISTINCT hash Exchanges: the dup-gram
    aggregation on the md5 key, the per-doc span/rebuild partition on
    doc_id (windows and rebuild agg REUSE one partitioning), and the pack
    window's shard. More distinct exchanges would mean a subtree started
    re-executing per consumer again (remove_duplicate_spans reads its
    input ~3x)."""
    plan = _plan(spark, sf_dir, "q80_trainprep_composed")
    ids = set(re.findall(r"Exchange hashpartitioning\(([^,]+)", plan))
    assert len(ids) == 3, plan
    assert "Generate explode" in plan


def test_perplexity_band_broadcasts_model(spark, sf_dir):
    """q79: the vocabulary-sized unigram model joins as a broadcast (a
    shuffled model join would re-shuffle the 100 TB token stream per
    scoring run), and the doc-sized score frame is CACHED — the percentile
    cut and the band filter are two consumers, and both must read the
    cached relation (InMemoryTableScan) instead of re-running the
    token-stream scoring. (The plan STRING prints the cached subtree under
    each scan site, so exchange-count assertions would double-count;
    the two InMemoryTableScans are the reuse signature.)"""
    plan = _plan(spark, sf_dir, "q79_perplexity_band")
    assert "BroadcastHashJoin" in plan
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "BatchEvalPython" not in plan


def test_substring_dedup_hash_aggregates_grams(spark, sf_dir):
    """q78: duplicated-gram detection must be a hash aggregation on the
    fixed-width md5 key (uniform, map-side combined) and the span
    machinery must stay join/window work — no cartesian/NLJ fallbacks and
    no Python in the row path."""
    plan = _plan(spark, sf_dir, "q78_substring_dedup")
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_map_in_pandas_confined_to_mg_candidates(oracle_plans):
    """MapInPandas (the per-partition imperative hop) is sanctioned in
    EXACTLY one oracled plan: q48's Misra-Gries candidate stage, whose
    entire point is bounded-state summarization that Catalyst cannot
    express. Its Arrow twin, MapInArrow, is likewise sanctioned only in
    q61: batch_ann runs the LSH top-k kernel the driver path serves with
    (numpy over each partition's vectors and postings) once per index
    partition, so batch and serve share one screen and one exact rerank
    (q61's contract reads that frame twice; the exchange above the map is
    reused when it runs, so the map runs once). Any other query growing
    either node means a declarative plan silently degraded to Python."""
    for name, plan in oracle_plans.items():
        if name == "q48_heavy_hitters":
            assert "MapInPandas" in plan, name
        else:
            assert "MapInPandas" not in plan, name
        if name == "q61_knn_lsh_embeddings":
            assert "MapInArrow" in plan, name
        else:
            assert "MapInArrow" not in plan, name


def test_heavy_hitters_confirm_is_broadcast(spark, sf_dir):
    """q48's exact-confirm pass must broadcast the candidate set and the
    scalar total — the corpus-side stream is never shuffled by key, only
    the (candidates + null-bucket) partial aggregates move."""
    plan = _plan(spark, sf_dir, "q48_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total frame


def test_gap_fill_two_scans_one_broadcast(spark, sf_dir):
    """gap_filled_hourly's scale contract: exactly TWO event scans (the
    tumbling aggregate + the one pruned bounds/types aggregate), the grid
    joined broadcast, no cartesian product — deriving the grid from the
    aggregate instead would re-execute the tumbling shuffle twice more
    (the r12 review catch)."""
    import re

    from movie_recommendation_etl_spark.plans.events_stream import (
        gap_filled_hourly,
    )
    from movie_recommendation_etl_spark.sources.catalog import load_table

    df = gap_filled_hourly(load_table(spark, sf_dir, "events"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_neardup_candidate_join_plan_shape(spark):
    """Structural pin for the near-dup family's clean-path candidate join
    (r17, VERDICT r16 #1a — q50/q53/q54 can't go in plans_pinned/ because
    their results are eager-localCheckpoint-truncated): on the lazy twin
    (materialize=identity) the banded self-join must stay a plain
    equi-join + distinct — no Window (a per-bucket window would serialize
    a viral bucket into one task), no cartesian/NLJ fallback, no Python,
    and at most three hash exchanges (two join sides + the distinct).
    Plan decay here is exactly what the bench drift channel watches for;
    this test names the shape so a wall-clock flag can be adjudicated
    against it."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.neardup import (
        banded_candidate_pairs,
    )

    rows = [(i, i % 7, i % 13) for i in range(200)]
    expl = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_hash long"
    )
    lazy = banded_candidate_pairs(
        expl, materialize=lambda df: df
    )
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges <= 3, plan
    # and it is a real equi-join feeding a distinct aggregate
    assert "Join" in plan and "HashAggregate" in plan


def test_banded_right_sizing_is_noop_at_scale_shape(spark):
    """right_size_materialized (r17, the q53 drift fix): small
    materialized frames coalesce down to ~1 partition; a frame already at
    or below rows/50k partitions is returned UNCHANGED (the 100 TB no-op
    guarantee), and coalesce never recomputes (narrow dep over the
    checkpoint blocks)."""
    from movie_recommendation_etl_spark.operators.skew import (
        right_size_materialized,
    )

    small = spark.range(1000).repartition(32).localCheckpoint(eager=True)
    sized = right_size_materialized(small)
    assert sized.rdd.getNumPartitions() == 1
    assert sized.count() == 1000
    # rows/50k >= partitions: identity (same object, not just same count)
    big_enough = spark.range(200_000).repartition(4).localCheckpoint(
        eager=True
    )
    assert right_size_materialized(big_enough) is big_enough
