"""Text-analysis queries over the documents table (north-star LLM-pipeline
ops: token counting, language ID, quality scoring, document fingerprinting).

Each query's DuckDB oracle implements the identical expression tree, so the
value-hash gate proves the Spark and SQL formulations agree bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.functions.text import (
    SQL_STOPWORDS,
    TOKEN_RE,
    lang_guess,
    mean_token_len,
    prefix_fingerprint,
    quality_score,
    re_token_count,
    short_token_ratio,
    stopword_ratio,
    ws_tokens,
)
from movie_recommendation_etl_spark.ml.lemmas import expand_inflections
from movie_recommendation_etl_spark.ml.tfidf import (
    BroadcastLemmatizer,
    load_default_lemmas,
)
from movie_recommendation_etl_spark.operators.dedup import fingerprint
from movie_recommendation_etl_spark.plans.registry import query
from movie_recommendation_etl_spark.sources.catalog import load_table

# --- q40 lemma arm (M4 under the hash gate) --------------------------------
# The dictionary the arm applies: regular morphology expanded over a fixed
# lexicon (ml/lemmas.py:expand_inflections — the same generator the
# corpus-induction path uses forward) unioned with the shipped irregular
# fixture, which wins on key conflicts (irregulars are a dictionary's job).
# ~140 entries, applied by ml/tfidf.BroadcastLemmatizer — the same stage
# the TF-IDF pipeline runs on its induced map. The corpus is
# all base forms, so the arm PLANTS hits: 8 inflected keys per doc chosen
# by (doc_id*7 + j*13) % |keys| are appended to the token stream before
# mapping — a corrupted lemma map (wrong value, missing key, broken
# morphology expansion) changes lemma_fp/n_lemmatized and hash-fails.
_LEMMA_LEXICON = (
    "batch", "buzz", "carry", "column", "copy", "filter", "fix", "free",
    "hash", "hope", "index", "join", "key", "make", "merge", "move",
    "plan", "play", "push", "query", "row", "run", "sort", "stop",
    "stream", "study", "tie", "value", "walk", "watch",
)
_LEMMA_MAP: dict[str, str] = dict(
    sorted(
        {
            **expand_inflections(_LEMMA_LEXICON),
            **load_default_lemmas(),
        }.items()
    )
)
_LEMMA_KEYS = list(_LEMMA_MAP)
_NK = len(_LEMMA_KEYS)
_SQL_LEMMA_KEYS = "[" + ", ".join(f"'{k}'" for k in _LEMMA_KEYS) + "]"
_SQL_LEMMA_VALS = (
    "[" + ", ".join(f"'{_LEMMA_MAP[k]}'" for k in _LEMMA_KEYS) + "]"
)

@query(
    "q40_text_profile_suite",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        FROM documents
    ),
    lem AS (
        -- the lemma arm's token stream: doc tokens plus 8 planted
        -- inflected keys, mapped through the embedded dictionary
        -- (parallel key/value lists; list_position returns 0 on miss and
        -- list[0] is NULL, so coalesce keeps the original token)
        SELECT doc_id,
               toks || list_transform(range(0, 8),
                   j -> ({_SQL_LEMMA_KEYS})[
                       1 + CAST((doc_id * 7 + j * 13) % {_NK} AS INTEGER)])
                   AS tt
        FROM t
    ),
    lem2 AS (
        SELECT doc_id, tt,
               list_transform(tt, tok ->
                   coalesce(({_SQL_LEMMA_VALS})[
                       list_position({_SQL_LEMMA_KEYS}, tok)], tok)) AS lt
        FROM lem
    ),
    lem3 AS (
        SELECT doc_id,
               md5(array_to_string(lt, ' ')) AS lemma_fp,
               CAST(len(list_filter(range(1, len(tt) + 1),
                        i -> tt[i] <> lt[i])) AS INTEGER) AS n_lemmatized
        FROM lem2
    ),
    m AS (
        SELECT doc_id, lang, text, toks,
               CAST(len(list_filter(toks, x -> x IN ({SQL_STOPWORDS})))
                    AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
               CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                    AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_tok_len,
               CAST(len(toks) AS DOUBLE) AS n
        FROM t
    )
    SELECT m.doc_id, lang,
           len(toks) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_re_tokens,
           len(list_distinct(toks)) AS n_uniq_tokens,
           md5(array_to_string(toks[1:8], ' ')) AS prefix_fp,
           stop_ratio,
           CAST(len(list_filter(toks, x -> length(x) <= 2))
                AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS short_ratio,
           mean_tok_len,
           CASE WHEN stop_ratio >= 0.15 THEN 'en' ELSE 'other' END AS lang_pred,
           0.3 * (least(n, 100.0) / 100.0)
             + 0.4 * (1.0 - stop_ratio)
             + 0.3 * (least(mean_tok_len, 10.0) / 10.0) AS quality,
           CAST(len(list_distinct(toks)) AS DOUBLE)
             / CAST(greatest(len(toks), 1) AS DOUBLE) AS type_token_ratio,
           round(ln(CAST(len(toks) AS DOUBLE) + 1.0), 9) AS log_n_tokens_q9,
           lemma_fp,
           n_lemmatized
    FROM m
    JOIN lem3 ON m.doc_id = lem3.doc_id
    """,
)
def q40_text_profile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile in ONE scan: token counting (whitespace +
    regex), prefix fingerprint, language-ID heuristic, and composite quality
    score (r7 consolidation of q40_token_counts + q41_lang_quality — both
    were narrow single-scan projections over the same table, so one query
    covers both operator families with half the scan cost). Narrow ops
    only — no shuffle; at 100 TB this runs at scan speed. Rational
    arithmetic only (see functions/text.py determinism policy), so the
    doubles hash-match the SQL oracle exactly.

    r8: the suite now also hash-gates the model-based quality classifier's
    feature vector (operators/quality_model.py FEATURE_NAMES): stop_ratio /
    short_ratio / mean_tok_len were already arms; type_token_ratio joins as
    an exact division, and log_n_tokens is hashed QUANTIZED to 9 decimals
    (``log_n_tokens_q9``) because JVM and DuckDB libm ln() diverge in the
    last ulp on ~1% of the integer domain (measured: 0 mismatches at
    1e-9 granularity on every testdata SF, and the exact input n_ws_tokens
    is hashed
    alongside). The sigmoid itself is deliberately NOT oracled — libm exp
    is not cross-engine reproducible; MLlib-vs-Catalyst agreement at 1e-12
    lives in tests/test_quality_model.py.

    r10: the M4 lemmatizer joins as the ``lemma_fp``/``n_lemmatized`` arm
    — the pipeline's own lemma stage (ml/tfidf.py:BroadcastLemmatizer,
    the Arrow pandas_udf probing a broadcast dict) applied to the doc
    tokens plus 8 planted inflected keys per doc, so the dictionary
    provably fires and a corrupted lemma map or broken morphology
    expansion (ml/lemmas.py) hash-fails instead of silently reshaping
    the q70 flagship. This is the suite's one sanctioned Python hop: a
    single ArrowEvalPython in the scan stage, no shuffle, which is
    precisely the plan shape being locked in (tests/test_plan_shapes.py
    allows Arrow here and nowhere else)."""
    docs = load_table(spark, sf_dir, "documents")
    # Two-step select so the tokenization and the O(tokens) distinct-count
    # evaluate ONCE each: CollapseProject keeps multi-referenced non-cheap
    # aliases as a separate Project instead of re-inlining them (the same
    # discipline as minhash_signature_cols' explicit md5 column) — without
    # it, n_uniq_tokens and type_token_ratio would each build their own
    # array_distinct hash set per row.
    keys_arr = F.array(*[F.lit(k) for k in _LEMMA_KEYS])
    planted = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda j: F.element_at(
            keys_arr,
            (
                F.pmod(F.col("doc_id") * 7 + j * 13, F.lit(_NK)) + 1
            ).cast("int"),
        ),
    )
    mid = docs.select(
        "doc_id",
        "lang",
        "text",
        ws_tokens("text").alias("__t"),
    ).select(
        "doc_id",
        "lang",
        "text",
        "__t",
        F.size("__t").alias("__n"),
        F.size(F.array_distinct("__t")).alias("__u"),
        F.concat(F.col("__t"), planted).alias("__tt"),
    )
    mid = BroadcastLemmatizer(
        _LEMMA_MAP, input_col="__tt", output_col="__lt"
    ).transform(mid)
    toks = F.col("__t")
    safe_n = F.greatest(F.col("__n"), F.lit(1)).cast("double")
    return mid.select(
        "doc_id",
        "lang",
        F.col("__n").alias("n_ws_tokens"),
        re_token_count("text").alias("n_re_tokens"),
        F.col("__u").alias("n_uniq_tokens"),
        prefix_fingerprint(toks).alias("prefix_fp"),
        stopword_ratio(toks).alias("stop_ratio"),
        short_token_ratio(toks).alias("short_ratio"),
        mean_token_len(toks).alias("mean_tok_len"),
        lang_guess(toks).alias("lang_pred"),
        quality_score(toks).alias("quality"),
        (F.col("__u").cast("double") / safe_n).alias("type_token_ratio"),
        F.round(F.log1p(F.col("__n").cast("double")), 9).alias(
            "log_n_tokens_q9"
        ),
        F.md5(F.concat_ws(" ", F.col("__lt"))).alias("lemma_fp"),
        F.size(
            F.filter(
                F.zip_with(
                    F.col("__tt"), F.col("__lt"), lambda a, b: a != b
                ),
                lambda x: x,
            )
        ).alias("n_lemmatized"),
    )


@query(
    "q42_exact_dedup_fingerprint",
    oracle="""
    WITH unioned AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ),
    fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS fingerprint
        FROM unioned
    )
    SELECT fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
)
def q42_exact_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over a corpus with planted duplicates (the table
    unioned with an id-shifted copy of itself): normalize → md5 fingerprint
    → keep the lowest doc_id per group, reporting group size.

    Scale shape (r16): ONE hash shuffle on the fingerprint into a single
    partial-aggregatable ``min + count`` — both halves map-side combine, so a
    viral identical document (10^7 copies of one fingerprint) is pre-reduced
    to one (min, count) pair per input partition before the shuffle. The
    previous form stacked two same-key windows (``row_number`` +
    ``count(*) OVER``), which funnel every copy of a hot fingerprint into one
    sorting task — md5 spreads *distinct* content uniformly but does nothing
    for *identical* content, and AQE cannot split window partitions.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    unioned = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    fp = unioned.select(
        "doc_id", fingerprint(F.col("text")).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_Q76_NGRAM_SQL = (
    "list_distinct(list_transform("
    "range(1, len(string_split(text, ' ')) - 3), "
    "i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))"
)


def _q76_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(train, eval) split of the documents table shared by both q76 arms:
    docs whose md5 leading hex digit is '0' play the held-out eval
    benchmark; the rest are the training corpus, salted with PLANTED
    contamination (half the eval docs re-enter training under a shifted id
    with two junk tokens prepended — near-total 5-gram overlap, but not an
    exact duplicate, so only an n-gram gate catches it)."""
    docs = load_table(spark, sf_dir, "documents")
    first_hex = F.md5(F.col("doc_id").cast("string")).substr(1, 1)
    second_hex = F.md5(F.col("doc_id").cast("string")).substr(2, 1)
    ev = docs.filter(first_hex == "0").select("doc_id", "text")
    clean = docs.filter(first_hex != "0").select("doc_id", "text")
    planted = ev.filter(second_hex.isin(*"01234567")).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("zq0 zq1 "), F.col("text")).alias("text"),
    )
    return clean.unionByName(planted), ev


@query(
    "q76_decontaminate",
    oracle=f"""
    WITH ev AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ),
    train AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, 'zq0 zq1 ' || text AS text
        FROM ev
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)
              IN ('0', '1', '2', '3', '4', '5', '6', '7')
    ),
    ev_grams AS (
        SELECT DISTINCT unnest({_Q76_NGRAM_SQL}) AS gram FROM ev
    ),
    tr AS (
        SELECT doc_id, {_Q76_NGRAM_SQL} AS grams FROM train
    ),
    hits AS (
        SELECT t.doc_id, count(*) AS n_overlap
        FROM (SELECT doc_id, unnest(grams) AS gram FROM tr) t
        JOIN ev_grams e USING (gram)
        GROUP BY t.doc_id
    ),
    res AS (
        SELECT t.doc_id,
               len(t.grams) AS n_grams,
               COALESCE(h.n_overlap, 0) AS n_overlap,
               CASE WHEN len(t.grams) > 0
                    THEN CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                         / CAST(len(t.grams) AS DOUBLE)
                    ELSE 0.0 END AS overlap_ratio,
               CASE WHEN len(t.grams) > 0
                    THEN CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                         / CAST(len(t.grams) AS DOUBLE)
                    ELSE 0.0 END >= 0.05 AS is_contaminated
        FROM tr t LEFT JOIN hits h USING (doc_id)
    )
    SELECT 'batch' AS arm, * FROM res
    UNION ALL
    SELECT 'bloom' AS arm, * FROM res
    UNION ALL
    SELECT 'stream' AS arm, * FROM res
    """,
)
def q76_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the _q76_split corpus — a THREE-arm
    suite (r14, the q48 template) under ONE oracle that emits the naive
    per-document answer once per arm, so every engine path must reproduce
    it bit-for-bit:

    - ``batch``: operators/decontaminate.ngram_contamination — eval gram
      set broadcast (plan-asserted in tests/test_plan_shapes.py), one
      training scan, one Exchange on doc_id.
    - ``bloom`` (r14): ngram_contamination_bloom — the 100 TB tier for
      eval sets too big to broadcast exactly (broadcast Bloom BITMAP +
      candidate-only confirm shuffle). Identical output by construction
      (no false negatives, exact confirm scrubs false positives) — now
      hash-PROVEN against DuckDB, not just pytest-equal to the exact arm.
    - ``stream`` (r14): the INGESTION-TIME gate
      (streaming/decontaminate.contamination_verdicts) over a real
      Structured Streaming read of the training corpus — 3 files fed one
      per trigger, stateless per-row verdicts against the broadcast eval
      gram set, landed in a parquet files sink by an availableNow drain
      (per-document output is corpus-sized: a files sink is the only
      100 TB-honest sink; nothing is driver-held).
    """
    return (
        q76_batch_arm(spark, sf_dir)
        .unionByName(q76_bloom_arm(spark, sf_dir))
        .unionByName(q76_stream_arm(spark, sf_dir))
    )


def q76_batch_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q76 suite's BATCH half — not a registry slot; see
    q76_decontaminate, whose oracle gates it. Benched separately
    (q76_batch) so the batch operator's signal isn't drowned in the
    stream arm's fixed trigger overhead (the q30/q48 split rationale)."""
    from movie_recommendation_etl_spark.operators.decontaminate import (
        ngram_contamination,
    )

    train, ev = _q76_split(spark, sf_dir)
    out = ngram_contamination(train, ev, n=5, ratio_threshold=0.05)
    return out.select(F.lit("batch").alias("arm"), *out.columns)


def q76_bloom_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q76 suite's BLOOM half — not a registry slot; see
    q76_decontaminate. Deliberately NOT a separate bench line: its cost
    class is the batch arm plus the bitmap build, and the suite's bench
    lines stay q76_batch / q76_stream (the registry slot is what the
    correctness gate runs)."""
    from movie_recommendation_etl_spark.operators.decontaminate import (
        ngram_contamination_bloom,
    )

    train, ev = _q76_split(spark, sf_dir)
    out = ngram_contamination_bloom(train, ev, n=5, ratio_threshold=0.05)
    return out.select(F.lit("bloom").alias("arm"), *out.columns)


def q76_stream_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q76 suite's STREAMING half (a real availableNow drain through
    the ingestion gate into a parquet files sink) — not a registry slot;
    see q76_decontaminate. The drained files are read back and
    localCheckpoint'ed ONLY so the tempdir can be dropped before
    returning (harness lifetime; the checkpoint holds the 5 metric
    columns, never the text) — a production gate keeps the sink
    directory itself: it IS the admitted corpus, and nothing in the
    streaming plan is driver- or memory-bound (stateless verdicts,
    append mode, files sink)."""
    import shutil
    import tempfile

    from movie_recommendation_etl_spark.streaming.decontaminate import (
        contamination_verdicts,
        eval_gram_set,
    )

    work_dir = tempfile.mkdtemp(prefix="spark_graft_q76_stream_")
    try:
        train, ev = _q76_split(spark, sf_dir)
        grams = eval_gram_set(ev, n=5)
        src = f"{work_dir}/src"
        train.repartition(3).write.mode("overwrite").parquet(src)
        train_stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        verdicts = contamination_verdicts(
            train_stream, grams, n=5, ratio_threshold=0.05
        ).select(
            "doc_id", "n_grams", "n_overlap", "overlap_ratio",
            "is_contaminated",
        )
        (
            verdicts.writeStream.format("parquet")
            .option("path", f"{work_dir}/out")
            .option("checkpointLocation", f"{work_dir}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        out = spark.read.parquet(f"{work_dir}/out").localCheckpoint(
            eager=True
        )
        return out.select(F.lit("stream").alias("arm"), *out.columns)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


_Q48_PHI = 0.00105


def _q48_grams(docs: DataFrame) -> DataFrame:
    """All corpus bigrams WITH multiplicity (distinct=False — the
    per-doc-deduped shingle set would be the wrong ground set for a
    frequency query). Applied unchanged to batch and streaming frames
    (Spark's unified model)."""
    from movie_recommendation_etl_spark.operators.neardup import (
        word_ngrams,
    )

    return docs.select(
        F.explode(
            word_ngrams(F.split("text", " "), 2, distinct=False)
        ).alias("gram")
    )


def _q48_stream_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream arm's candidate half: the documents table rewritten into
    3 files fed one per trigger (so the per-bucket MG state genuinely
    merges ACROSS micro-batches — a single-batch drain would never
    execute that path while the gate claimed it did; same rationale as
    q30's session stream arm), bigram-exploded INSIDE the streaming
    query, summarized by streaming_mg_candidates, drained availableNow.
    Returns the bounded (≤ n_buckets·k rows) final summary frame."""
    import shutil
    import tempfile

    from movie_recommendation_etl_spark.streaming.heavy_hitters import (
        drain_mg_candidates,
    )

    k = math.ceil(1.0 / _Q48_PHI)
    stream_dir = tempfile.mkdtemp(prefix="spark_graft_q48_stream_")
    try:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        docs.repartition(3).write.mode("overwrite").parquet(stream_dir)
        doc_stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return drain_mg_candidates(
            spark, _q48_grams(doc_stream), k=k, n_buckets=8
        )
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@query(
    "q48_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT u.g
        FROM toks,
             UNNEST(list_transform(
                 range(1, len(t)), i -> t[i] || ' ' || t[i + 1]
             )) AS u(g)
    ),
    f AS (SELECT g, count(*) AS cnt FROM grams GROUP BY g),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM f),
    hh AS (
        SELECT g AS gram, cnt, n_total
        FROM f, tot
        WHERE cnt > n_total * 0.00105
    )
    SELECT 'batch' AS arm, gram, cnt, n_total FROM hh
    UNION ALL
    SELECT 'stream' AS arm, gram, cnt, n_total FROM hh
    """,
)
def q48_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy hitters over the corpus bigram stream — common-phrase
    mining, the frequency-sketch sibling of the HLL gate (q44) and the
    quantile-sketch gate (q39's approx_percentile arm). The oracle is the
    NAIVE formulation (explode → group-by → threshold), emitted once per
    arm — BOTH engine paths must reproduce the exhaustive group-by
    bit-for-bit:

    - ``batch``: Misra-Gries-bounded candidate generation + exact confirm
      (operators/sketches.py); remerge=True gates the 100 TB shape — the
      candidate broadcast is ≤ k keys TOTAL (one extra ≤ k·partitions-row
      shuffle), not k·partitions.
    - ``stream`` (r13): the candidates come from the STREAMING
      Misra-Gries twin instead (streaming/heavy_hitters.py — bucketed
      applyInPandasWithState, state ≤ n_buckets·k rows, drained over 3
      micro-batches so cross-batch state merges genuinely execute), then
      the SAME exact-confirm plan over the stored corpus. The superset
      theorem holds under any arrival order, so the confirm output — and
      therefore the hash — matches the batch arm exactly.

    Bigrams (not unigrams) keep the keyspace meaningfully larger than the
    survivors at every SF."""
    return q48_batch_arm(spark, sf_dir).unionByName(
        q48_stream_arm(spark, sf_dir)
    )


def q48_batch_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q48 suite's BATCH half — not a registry slot; see
    q48_heavy_hitters, whose oracle gates it. Benched separately
    (q48_batch) so the sketch's sub-2 s signal isn't drowned in the
    stream arm's fixed trigger overhead — same split rationale as
    q30_batch_arms/q30_stream_arms (r11)."""
    from movie_recommendation_etl_spark.operators.sketches import (
        heavy_hitters,
    )

    grams = _q48_grams(load_table(spark, sf_dir, "documents"))
    batch = heavy_hitters(
        grams, "gram", phi=_Q48_PHI, key_name="gram", remerge=True
    )
    return batch.select(
        F.lit("batch").alias("arm"), "gram", "cnt", "n_total"
    )


def q48_stream_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q48 suite's STREAMING half (the real availableNow drain +
    exact confirm) — not a registry slot; see q48_heavy_hitters."""
    from movie_recommendation_etl_spark.operators.sketches import (
        confirm_heavy_hitters,
    )

    grams = _q48_grams(load_table(spark, sf_dir, "documents"))
    stream = confirm_heavy_hitters(
        grams,
        "gram",
        _q48_stream_candidates(spark, sf_dir),
        phi=_Q48_PHI,
        key_name="gram",
    )
    return stream.select(
        F.lit("stream").alias("arm"), "gram", "cnt", "n_total"
    )
