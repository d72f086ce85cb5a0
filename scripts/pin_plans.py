"""Pin normalized physical plans for headline queries (r16, VERDICT r15 #5).

The q02 +36.8% flag survived its own re-sample with NO way to prove the
plan hadn't changed — adjudication needs a committed plan capture to diff
against. This script dumps ``explain("formatted")`` for a curated set of
scan-path-sensitive queries into ``plans_pinned/<query>.txt``, normalized
(expression ids ``#123`` and ``plan_id=456`` counters vary per session and
are rewritten to stable placeholders) so ``git diff`` over a re-run is
empty unless the PLAN actually changed.

Usage:
    python scripts/pin_plans.py            # rewrite plans_pinned/
    python scripts/pin_plans.py --check    # exit 1 if any plan drifted

Queries that run side effects while building their plan (the streaming
drains q30/q48/q76, the store-admitting q44/q74/q75) are excluded — their
plan shape is pinned by tests/test_plan_shapes.py instead. The near-dup
family (q50/q53/q54) is excluded for a different reason (r17, VERDICT r16
#1a): their results are eager-localCheckpoint-truncated, so the returned
frame's plan is just a Scan ExistingRDD — the candidate-join plan shape
those queries run is pinned structurally in tests/test_plan_shapes.py
(no Window / no cartesian / bounded exchange count on the lazy twin), and
their wall-clock is guarded by bench.compute_drift. EXTRA_PINNED pins
bench-only arms that do have full lazy plans (q48_batch; batch_ann_pass1 —
r18, VERDICT r17 #5: batch_ann's bench line has been bimodal 1.9-4.2 s on
identical code since r11, and its materialized result frame can't be
pinned, so the LAZY first-pass approxSimilarityJoin + top-k window — the
plan whose join strategy would explain a real mode flip — is pinned here;
building its fixture pays one sf0.1 TF-IDF fit + LSH fit, plan stays
unexecuted).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PINNED = (
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_multidim_agg_suite",
    "q05_semi_anti_join_suite",
    "q07_top3_orders_per_customer",
    "q13_conditional_agg_suite",
    "q18_first_order_per_customer",
    "q33_lookup_expr_suite",
    "q39_exact_percentiles",
    "q42_exact_dedup_fingerprint",
    "q46_range_band_join",
    "q58_sampling_suite",
    "q63_embedding_outliers",
)

# Partition counts are part of a physical plan (RoundRobinPartitioning(n),
# shuffle partitions), so plans are captured and checked at one fixed
# parallelism rather than the host's core count; plans_pinned/ was
# captured at 32.
PINNED_PARALLELISM = 32

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans_pinned",
)


def _normalize(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"Location: \S*InMemoryFileIndex[^\n]*", "Location: <x>", plan)
    # cached-relation sizes / stats drift with data, not plan shape
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(<x>)", plan)
    return plan


def main() -> int:
    check = "--check" in sys.argv[1:]
    # read by session.default_parallelism (local[N], shuffle partitions)
    os.environ["SPARK_GRAFT_CPUS"] = str(PINNED_PARALLELISM)

    import __spark_entry__ as E
    from movie_recommendation_etl_spark.plans.text_analysis import (
        q48_batch_arm,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="pin_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    def _batch_ann_pass1(spark, sf_dir):
        # the bench's batch_ann fixture, stopped BEFORE the eager
        # localCheckpoint: the lazy first LSH pass + per-query top-k
        # window — the join whose strategy a mode flip would change.
        # Built from batch_ann's OWN pass/topk helpers (ml/ann.py), not a
        # re-derived copy, so the pin can never silently diverge from
        # what the bench executes (r18 review).
        import inspect

        from movie_recommendation_etl_spark.ml.ann import (
            _batch_lsh_pass,
            _batch_topk,
            batch_ann,
            fit_lsh,
            prepare_index,
        )
        from movie_recommendation_etl_spark.ml.tfidf import (
            fit_document_vectors,
        )
        from movie_recommendation_etl_spark.sources.catalog import load_table

        # Pass-1 radius comes from batch_ann's OWN signature default (r19,
        # ADVICE r18: a hardcoded 1.4 here would silently diverge from the
        # bench's executed plan if the default ever changes — the exact
        # drift the shared helpers were extracted to prevent).
        radius = inspect.signature(batch_ann).parameters["radius"].default

        docs = load_table(spark, sf_dir, "documents")
        _, vecs = fit_document_vectors(docs)
        lsh = fit_lsh(vecs)
        index = prepare_index(lsh, vecs)
        # prepare_index does not force its cache; build fills it by writing
        # the index (save_ann_index) before batch_ann plans the join, and
        # the join's build side follows the filled cache's statistics
        index.count()
        q_batch = vecs.filter("doc_id % 37 = 0")
        return _batch_topk(
            _batch_lsh_pass(
                lsh, q_batch, index, "doc_id", "doc_id", radius=radius
            ),
            5,
        )

    extra = {"q48_batch": q48_batch_arm, "batch_ann_pass1": _batch_ann_pass1}

    os.makedirs(OUT_DIR, exist_ok=True)
    drifted: list[str] = []
    for name in (*PINNED, *extra):
        df = (extra.get(name) or qs[name])(spark, SF_DIR)
        plan = _normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(OUT_DIR, f"{name}.txt")
        if check:
            old = open(path).read() if os.path.exists(path) else ""
            if old != plan:
                drifted.append(name)
                print(f"DRIFT {name}")
        else:
            with open(path, "w") as f:
                f.write(plan)
            print(f"pinned {name}")
    if check:
        print("plan drift:", drifted or "none")
        return 1 if drifted else 0
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
