"""Streaming/batch equivalence: the streaming windowed aggregations must
produce exactly the batch q30 result when the stream is fully drained
(availableNow trigger + complete/append semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_recommendation_etl_spark.plans.events_stream import (
    session_window_agg,
)
from movie_recommendation_etl_spark.sources.catalog import load_table
from movie_recommendation_etl_spark.streaming.windows import (
    read_events_stream,
    run_available_now,
    sessionized_counts,
    windowed_counts,
)
import movie_recommendation_etl_spark.plans.all  # noqa: F401


def _stage_events(spark, sf_dir, tmp_path) -> str:
    """Re-write events as plain-microsecond parquet (the testdata files use
    TIMESTAMP(NANOS), which the streaming reader can't take a schema for)."""
    path = str(tmp_path / "events_stream_src")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    src = _stage_events(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, src, max_files_per_trigger=4)
    run_available_now(
        windowed_counts(stream), "win_counts", output_mode="complete"
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 4))
        for r in spark.table("win_counts").collect()
    }
    batch = load_table(spark, sf_dir, "events")
    exp = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 4))
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .collect()
        )
    }
    assert got == exp


def test_streaming_sessions_match_batch(spark, sf_dir, tmp_path):
    src = _stage_events(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, src)
    run_available_now(
        sessionized_counts(stream), "sess_counts", output_mode="complete"
    )
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table("sess_counts").collect()
    }
    exp = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_window_agg(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert got == exp


def test_stream_merge_upsert_incremental(spark, sf_dir, tmp_path):
    """Streaming incremental ingestion: micro-batches MERGE into a parquet
    table by key, so draining a source whose later files update earlier
    keys yields last-writer-wins — and re-draining from a fresh checkpoint
    (a full replay) leaves the table unchanged (idempotent sink)."""
    from movie_recommendation_etl_spark.streaming.incremental import (
        stream_merge_upsert,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    v1 = batch.withColumn("value", F.lit(1.0))
    v2 = batch.limit(200).withColumn("value", F.lit(2.0))
    src = str(tmp_path / "merge_src")
    # two generations in one source dir; maxFilesPerTrigger forces multiple
    # micro-batches so the merge path runs more than once
    v1.coalesce(2).write.mode("overwrite").parquet(src)
    v2.coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "merge_target")
    stream_merge_upsert(
        read_events_stream(spark, src, max_files_per_trigger=1),
        target,
        ["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt1"),
        order_col="value",
    )
    got = spark.read.parquet(target)
    n_ids = batch.select("event_id").distinct().count()
    assert got.count() == n_ids
    # the 200 updated keys carry value 2.0; all others 1.0
    assert got.filter(F.col("value") == 2.0).count() == 200

    # full replay into the SAME target (fresh checkpoint): no change
    stream_merge_upsert(
        read_events_stream(spark, src, max_files_per_trigger=1),
        target,
        ["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
        order_col="value",
    )
    again = spark.read.parquet(target)
    assert again.count() == n_ids
    assert again.filter(F.col("value") == 2.0).count() == 200


def test_streaming_contamination_gate_matches_batch(spark, tmp_path):
    """Ingestion-time decontamination: the streaming gate's keep/drop set
    must equal the batch operator's is_contaminated verdicts on the same
    corpus (append mode, no state store)."""
    import datetime as dt

    from pyspark.sql import types as T

    from movie_recommendation_etl_spark.operators.decontaminate import (
        ngram_contamination,
    )
    from movie_recommendation_etl_spark.streaming.decontaminate import (
        contamination_gated_documents,
        eval_gram_set,
    )

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ev = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    incoming = [
        (1, "prefix junk " + bench_text),            # contaminated
        (2, "totally unrelated words appear here now and then again ok"),
        (3, bench_text),                             # contaminated (exact)
        (4, "alpha beta gamma unrelated tail of fresh tokens here right"),
        (5, "short doc"),                            # no 5-gram: passes
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [(i, txt, t0 + dt.timedelta(seconds=i)) for i, txt in incoming]
    src = str(tmp_path / "contam_stream_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    grams = eval_gram_set(ev, n=5)
    stream = spark.readStream.schema(schema).parquet(src)
    run_available_now(
        contamination_gated_documents(
            stream, grams, n=5, ratio_threshold=0.5
        ),
        "contam_gate",
        output_mode="append",
    )
    kept_streaming = {
        r["doc_id"] for r in spark.table("contam_gate").collect()
    }

    batch = spark.createDataFrame(
        [(i, txt) for i, txt in incoming], "doc_id long, text string"
    )
    verdicts = ngram_contamination(
        batch, ev, n=5, ratio_threshold=0.5
    ).collect()
    kept_batch = {
        r["doc_id"] for r in verdicts if not r["is_contaminated"]
    }
    assert kept_streaming == kept_batch
    assert kept_streaming == {2, 4, 5}


def test_eval_gram_set_bounded(spark):
    from movie_recommendation_etl_spark.streaming.decontaminate import (
        eval_gram_set,
    )

    ev = spark.createDataFrame(
        [(i, " ".join(f"tok{i}x{j}" for j in range(12))) for i in range(10)],
        "doc_id long, text string",
    )
    grams = eval_gram_set(ev, n=5, max_grams=1000)
    assert len(grams) == 10 * 8  # 12 tokens -> 8 distinct 5-grams per doc
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_grams"):
        eval_gram_set(ev, n=5, max_grams=10)


def test_contamination_gate_accepts_broadcast_handle(spark):
    """A long-lived driver passes its own Broadcast (and unpersists it on
    eval-set refresh); the gate must probe it identically to a plain set."""
    from movie_recommendation_etl_spark.operators.neardup import (  # noqa: F401
        word_shingles,
    )
    from movie_recommendation_etl_spark.streaming.decontaminate import (
        contamination_gated_documents,
        eval_gram_set,
    )

    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta tail"),
            (2, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    grams = eval_gram_set(ev, n=5)
    bc = spark.sparkContext.broadcast(frozenset(grams))
    try:
        via_set = {
            r["doc_id"]
            for r in contamination_gated_documents(
                docs, grams, n=5, ratio_threshold=0.5
            ).collect()
        }
        via_bc = {
            r["doc_id"]
            for r in contamination_gated_documents(
                docs, bc, n=5, ratio_threshold=0.5
            ).collect()
        }
        assert via_set == via_bc == {2}
    finally:
        bc.unpersist()


def test_q30_stream_arm_relative_sf_dir(spark, monkeypatch):
    """The tumbling_stream arm must resolve a RELATIVE sf_dir before
    symlinking (r9 review: a cwd-relative path produced a dangling link
    in /tmp and an empty stream arm): streamed results from a relative
    path must equal the batch aggregation."""
    import os

    from movie_recommendation_etl_spark.plans.events_stream import (
        _streamed_tumbling,
        tumbling_window_agg,
    )
    from movie_recommendation_etl_spark.sources.catalog import load_table

    from tests.conftest import SF_SMALL

    abs_dir = os.path.abspath(SF_SMALL)
    monkeypatch.chdir(os.path.dirname(os.path.dirname(abs_dir)))
    rel_dir = os.path.relpath(abs_dir)
    assert not os.path.isabs(rel_dir)
    got = sorted(
        map(tuple, _streamed_tumbling(spark, rel_dir).collect())
    )
    exp = sorted(
        map(
            tuple,
            tumbling_window_agg(
                load_table(spark, abs_dir, "events")
            ).collect(),
        )
    )
    assert got == exp and len(got) > 0


def test_q30_stream_arm_nanos_timestamp_fallback(spark, tmp_path):
    """A legacy TIMESTAMP(NANOS) events file (earlier testdata
    generations — catalog._NANOS_TS_COLS exists for exactly this) cannot
    pass the stream's fixed micros schema; the arm must fall back to a
    one-time micros rewrite and still match the batch aggregation."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from movie_recommendation_etl_spark.plans.events_stream import (
        _streamed_tumbling,
        tumbling_window_agg,
    )
    from movie_recommendation_etl_spark.sources.catalog import load_table

    n = 200
    base_ns = 1_700_000_000_000_000_000
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                base_ns + np.arange(n, dtype=np.int64) * 137_000_000_000,
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                ["click", "view", "error"][i % 3] for i in range(n)
            ),
            "value": pa.array(
                [float(i) / 8 for i in range(n)], pa.float64()
            ),
            "props": pa.array(["{}"] * n),
        }
    )
    sf_dir = str(tmp_path / "nanos_sf")
    import os

    os.makedirs(sf_dir)
    pq.write_table(
        tbl, f"{sf_dir}/events.parquet", store_schema=False,
        coerce_timestamps=None,
    )
    # sanity: the file really is nanos (a plain spark read must fail)
    import pytest
    from pyspark.sql.utils import AnalysisException

    with pytest.raises(AnalysisException):
        spark.read.parquet(f"{sf_dir}/events.parquet").schema

    got = sorted(
        map(tuple, _streamed_tumbling(spark, sf_dir).collect())
    )
    exp = sorted(
        map(
            tuple,
            tumbling_window_agg(
                load_table(spark, sf_dir, "events")
            ).collect(),
        )
    )
    assert got == exp and len(got) > 0


def test_gap_fill_matches_python_replay_on_random_sparse_events(spark):
    """Property check on synthetic sparse data (the oracle gates real
    tables; this attacks edges the testdata may not have): random events
    over a 3-day range with most hours empty — the densified series must
    equal a pure-Python replay cell-for-cell, including all-zero hours,
    single-type hours, and the exact [min,max] range bounds."""
    import random
    from collections import Counter
    from datetime import datetime, timedelta

    from movie_recommendation_etl_spark.plans.events_stream import (
        gap_filled_hourly,
    )

    rng = random.Random(23)
    base = datetime(2024, 3, 1)
    types = ["a", "b", "c"]
    rows = []
    for _ in range(120):
        ts = base + timedelta(
            hours=rng.randint(0, 71), minutes=rng.randint(0, 59)
        )
        rows.append((ts, rng.choice(types), float(rng.randint(1, 9))))
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    ).repartition(7)

    got = {
        (r["window_start"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
        )
        for r in gap_filled_hourly(df).collect()
    }

    counts, sums = Counter(), Counter()
    for ts, et, v in rows:
        h = ts.replace(minute=0, second=0, microsecond=0)
        counts[(h, et)] += 1
        sums[(h, et)] += v
    hours = sorted({h for h, _ in counts})
    lo, hi = hours[0], hours[-1]
    expected = {}
    seen_types = sorted({et for _, et in counts})
    h = lo
    while h <= hi:
        for et in seen_types:
            expected[(h, et)] = (
                counts.get((h, et), 0),
                float(sums.get((h, et), 0.0)),
            )
        h += timedelta(hours=1)

    assert set(got) == set(expected)
    for cell, (n, s) in expected.items():
        gn, gs = got[cell]
        assert gn == n, cell
        assert abs(gs - s) < 1e-9, cell
    # sparsity really happened: most cells are gap-filled zeros
    zero_cells = sum(1 for n, _ in got.values() if n == 0)
    assert zero_cells > len(got) / 3


def test_bloom_gated_stream_matches_batch_over_gram_cap(spark, tmp_path):
    """The Bloom-tier streaming gate (r14 VERDICT #5): keep/drop sets must
    equal the exact batch operator's on the same corpus, WITHOUT any
    driver-held gram set — asserted on an eval corpus OVER the exact
    gate's gram cap (eval_gram_set raises; the bloom gate sails through,
    holding only the ~1 MB bitmap on the driver)."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from movie_recommendation_etl_spark.operators.decontaminate import (
        ngram_contamination,
    )
    from movie_recommendation_etl_spark.streaming.decontaminate import (
        bloom_gated_stream,
        eval_gram_set,
    )

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # eval corpus: the benchmark doc plus filler docs whose distinct-gram
    # count exceeds a deliberately small exact-gate cap
    ev_rows = [(0, bench_text)] + [
        (i, " ".join(f"ev{i}w{j}" for j in range(16))) for i in range(1, 30)
    ]
    ev = spark.createDataFrame(ev_rows, "doc_id long, text string")
    with _pytest.raises(ValueError, match="max_grams"):
        eval_gram_set(ev, n=5, max_grams=100)  # exact gate's ceiling

    incoming = [
        (1, "prefix junk " + bench_text),            # contaminated
        (2, "totally unrelated words appear here now and then again ok"),
        (3, bench_text),                             # contaminated (exact)
        (4, "alpha beta gamma unrelated tail of fresh tokens here right"),
        (5, "short doc"),                            # no 5-gram: passes
        (6, "ev3w0 ev3w1 ev3w2 ev3w3 ev3w4 ev3w5 ev3w6 trailing bits"),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "bloom_stream_src")
    spark.createDataFrame(incoming, schema).repartition(3).write.mode(
        "overwrite"
    ).parquet(src)

    sink = str(tmp_path / "bloom_stream_sink")
    ckpt = str(tmp_path / "bloom_stream_ckpt")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = bloom_gated_stream(
        stream, ev, sink, ckpt, n=5, ratio_threshold=0.5,
        num_bits=1 << 16,
    )
    q.awaitTermination()
    out = spark.read.parquet(sink)
    kept_streaming = {r["doc_id"] for r in out.collect()}
    # multi-micro-batch drain (maxFilesPerTrigger=1 over 3 files), each
    # batch in its own idempotent partition dir
    assert out.select("ingest_batch").distinct().count() >= 2
    assert set(out.columns) == {"doc_id", "text", "ingest_batch"}

    batch = spark.createDataFrame(incoming, schema)
    verdicts = ngram_contamination(
        batch, ev, n=5, ratio_threshold=0.5
    ).collect()
    kept_batch = {r["doc_id"] for r in verdicts if not r["is_contaminated"]}
    assert kept_streaming == kept_batch
    assert kept_streaming == {2, 4, 5}


def test_stream_admit_documents_rejects_across_batches(spark, tmp_path):
    """r16 streaming fuzzy-admission tier: a document near-dupping one
    admitted in an EARLIER micro-batch is rejected through the persisted
    store (the cross-batch property the stateless fingerprint gate cannot
    provide); within-batch dups reject greedy-by-id; the admitted set
    equals the one-shot batch admission on the same corpus."""
    import time as _time

    from pyspark.sql import types as T

    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        admit_new_documents,
    )
    from movie_recommendation_etl_spark.streaming.incremental import (
        stream_admit_documents,
    )

    def tmpl(tag, uniq):
        return " ".join(f"{tag}w{j}" for j in range(14)) + f" u{uniq}"

    wave1 = [(1, tmpl("a", 1)), (2, " ".join(f"solo2x{j}" for j in range(14)))]
    wave2 = [
        (11, tmpl("a", 11)),  # near-dup of doc 1 -> rejected via the STORE
        (12, " ".join(f"solo12x{j}" for j in range(14))),  # fresh -> admitted
        (13, tmpl("solo12x", 13).replace("solo12xw", "solo12x")),  # ~12, same batch
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "adm_stream_src")
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _time.sleep(1.1)  # distinct mtimes: wave1's file drains first
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store = str(tmp_path / "adm_store")
    sink = str(tmp_path / "adm_sink")
    ckpt = str(tmp_path / "adm_ckpt")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_admit_documents(
        stream, store, sink, ckpt, sim_threshold=0.6
    )
    q.awaitTermination()
    out = spark.read.parquet(sink)
    admitted_stream = {r["doc_id"] for r in out.collect()}
    assert out.select("ingest_batch").distinct().count() >= 2
    assert admitted_stream == {1, 2, 12}

    # one-shot batch admission over the same corpus -> identical set
    store2 = str(tmp_path / "adm_store_oneshot")
    both = spark.createDataFrame(wave1 + wave2, schema)
    admitted_batch = {
        r["doc_id"]
        for r in admit_new_documents(
            spark, both, store2, sim_threshold=0.6
        ).collect()
    }
    assert admitted_stream == admitted_batch


def test_stream_admit_embeddings_rejects_across_batches(spark, tmp_path):
    """Vector twin of the r16 streaming fuzzy-admission tier: a vector
    near-duplicating one admitted in an earlier micro-batch is rejected
    through the persisted SRP store; fresh vectors pass."""
    import math
    import time as _time

    from pyspark.sql import types as T

    from movie_recommendation_etl_spark.streaming.incremental import (
        stream_admit_embeddings,
    )

    def unit(vals):
        n = math.sqrt(sum(v * v for v in vals))
        return [float(v / n) for v in vals]

    base = unit([1, 2, 3, 4, 5, 6, 7, 8])
    near = unit([1.02, 2.01, 3.0, 4.03, 5.0, 6.02, 7.0, 8.01])
    ortho = unit([8, -7, 6, -5, 4, -3, 2, -1])
    fresh = unit([0, 1, 0, -1, 0, 1, 0, -1])
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField(
                "embedding", T.ArrayType(T.DoubleType())
            ),
        ]
    )
    src = str(tmp_path / "emb_stream_src")
    spark.createDataFrame([(1, base), (2, ortho)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame([(10, near), (11, fresh)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)

    store = str(tmp_path / "emb_adm_store")
    sink = str(tmp_path / "emb_adm_sink")
    ckpt = str(tmp_path / "emb_adm_ckpt")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_admit_embeddings(stream, store, sink, ckpt, dim=8)
    q.awaitTermination()
    admitted = {
        r["vec_id"] for r in spark.read.parquet(sink).collect()
    }
    assert admitted == {1, 2, 11}
