"""Flagship ANN queries: the reference's recommend path over documents
(TF-IDF → LSH → approxNearestNeighbors, transform/execute.py:175-270 +
execute.ipynb:1645-1670) and the batch LSH/IVF ANN over embeddings.

q61/q62 are hash-gated on their CONTRACT (r11, the q44 pattern): the
candidate sets themselves come from MLlib's seeded random projections /
KMeans cells — deterministic for a fixed seed but not expressible in ANSI
SQL — so the queries emit what IS cross-engine checkable (exact top-1
cosine per query, the fill guarantee, a recall floor vs the exact top-5)
and the oracle computes the exact side and asserts the contract flags
TRUE. q70 (the MLlib flagship) got the same treatment (r11, closing the
last rows-only slot): its contract row carries the fitted CountVectorizer
vocabulary size (DuckDB recomputes it from raw text), the corpus count,
structural top-k flags, and a recall floor vs a relational ln-idf exact
top-5 that shares no code with MLlib."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.functions.vectors import sql_dot, sql_norm2
from movie_recommendation_etl_spark.ml.en_stopwords import (
    EN_STOPWORDS,
    SQL_EN_STOPLIST,
)
from movie_recommendation_etl_spark.ml.ann import (
    batch_ann,
    embeddings_as_vectors,
    fit_lsh,
    prepare_index,
    recommend,
)
from movie_recommendation_etl_spark.ml.tfidf import fit_document_vectors
from movie_recommendation_etl_spark.plans.registry import query
from movie_recommendation_etl_spark.sources.catalog import load_table

FLAGSHIP_QUERY_DOC = 42
TOP_K = 5


def lsh_knn_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch LSH ANN over embeddings: batch_ann answers all 20 queries in
    one Arrow map over the corpus (the scale path), merged to a top-5 per
    query — the neighbor-level frame that recall@5 is scored on. q61 wraps
    it in the contract gate. Compare with q60_knn_bruteforce — the exact
    baseline it approximates."""
    emb = embeddings_as_vectors(spark, sf_dir)
    model = fit_lsh(emb, "norm_vec", bucket_length=0.5)
    queries = (
        emb.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), "norm_vec")
    )
    dataset = emb.select("vec_id", "norm_vec")
    return batch_ann(
        model, queries, dataset, "vec_id", "query_id", top_k=TOP_K
    ).select("query_id", "neighbor_id", "rnk", "dist")


def ivf_knn_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN neighbor-level frame: KMeans coarse cells + probe-limited
    equi-join search — the alternative scale path to LSH when the corpus
    clusters. q62 wraps it in the contract gate (with a recall floor).

    n_probe=6 of 8 cells (r11; was 4): the synthetic embeddings table is
    near-uniform in the unit ball, so cells barely separate neighbors and
    recall scales with the PROBED FRACTION almost linearly (measured at
    sf0.1: 4/8 -> 0.77-0.82, 6/8 -> 0.94; finer cells make it worse —
    8/64 -> 0.60). On real clustered corpora the same operator earns its
    keep at n_probe << n_centroids; this query pins the honest setting
    for THIS data rather than advertising a probe ratio the data cannot
    support."""
    from movie_recommendation_etl_spark.ml.ivf import fit_ivf_centroids, ivf_knn

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_ivf_centroids(emb, id_col="vec_id", n_centroids=8)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_knn(model, emb, queries, top_k=TOP_K, n_probe=6).select(
        "query_id", "neighbor_id", "rnk", "cosine_sim"
    )


def _ann_contract(
    ann: DataFrame, exact: DataFrame, hits_num: int, hits_den: int
) -> DataFrame:
    """Wrap a neighbor-level ANN frame in the cross-engine contract
    (see q61/q62 docstrings): per exact-side query, the ANN fill count,
    the exact top-1 cosine (hash-exact vs the SQL oracle — the identical
    sorted-fold arithmetic q60 proves), and a corpus-level recall floor
    asserted as an integer flag. The recall comparison is integer-rational
    (hits*den >= returned*num) so the threshold never sits on a float
    boundary. Base frame is the EXACT side: an ANN query that vanishes
    entirely still yields its row with n_returned=0 — a hash fail, not a
    row-count shrug."""
    hits = (
        ann.join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    per_q = (
        ann.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_returned"))
    )
    top1 = exact.filter(F.col("rnk") == 1).select(
        "query_id", F.col("cosine_sim").alias("exact_top1_sim")
    )
    base = (
        top1.join(per_q, "query_id", "left")
        .join(hits, "query_id", "left")
        .na.fill({"n_returned": 0, "hits": 0})
    )
    # 20 rows post-agg: the single-partition global window is fine.
    wall = W.partitionBy(F.lit(1))
    return base.select(
        "query_id",
        "n_returned",
        "exact_top1_sim",
        (
            F.sum("hits").over(wall) * hits_den
            >= F.sum("n_returned").over(wall) * hits_num
        )
        .cast("int")
        .alias("suite_recall_ok"),
    )


# Shared by the q61/q62 oracles: DuckDB computes the exact cosine top-1
# per query (identical sorted-fold arithmetic to q60's hash-proven oracle)
# and asserts the Spark-side contract flags.
_ANN_CONTRACT_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, embedding, {sql_norm2("embedding")} AS nrm
        FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < 20),
    p AS (
        SELECT q.vec_id AS query_id,
               {sql_dot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)
                   AS cosine_sim,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {sql_dot("q.embedding", "e.embedding")}
                                           / (q.nrm * e.nrm) DESC,
                                           e.vec_id) AS rnk
        FROM q JOIN e ON e.vec_id <> q.vec_id
    )
    SELECT query_id,
           CAST(5 AS INTEGER) AS n_returned,
           cosine_sim AS exact_top1_sim,
           CAST(1 AS INTEGER) AS suite_recall_ok
    FROM p WHERE rnk = 1
    """


@query("q61_knn_lsh_embeddings", oracle=_ANN_CONTRACT_ORACLE)
def q61_knn_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch LSH ANN under the CONTRACT hash gate (r11 upgrade from
    rows-only; the q44 pattern): the LSH candidate sets are engine-specific
    (seeded random projections), but three things are cross-engine facts —

    - every query fills exactly top_k (batch_ann falls back to the exact
      top_k when fewer than top_k docs share a bucket with the query),
    - the exact top-1 cosine per query (computed here brute-force over the
      20-query slice, hash-exact vs the oracle — q60's arithmetic),
    - mean recall@5 vs the exact top-5 clears 0.8, the same floor the
      pytest gate pins (tests/test_ann_flagship.py) — integer-rational
      compare, corpus-level so a single hard query can't flake the gate.

    A broken LSH (wrong buckets, lost fallback, dropped queries) flips
    n_returned or suite_recall_ok and hash-fails the driver gate instead
    of hiding behind a rows-only row count."""
    from movie_recommendation_etl_spark.plans.dedup_similarity import (
        q60_knn_bruteforce,
    )

    ann = lsh_knn_neighbors(spark, sf_dir)
    exact = q60_knn_bruteforce(spark, sf_dir)
    return _ann_contract(ann, exact, hits_num=4, hits_den=5)


@query("q62_knn_ivf_embeddings", oracle=_ANN_CONTRACT_ORACLE)
def q62_knn_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN under the CONTRACT hash gate (r11; same scheme as q61 —
    see that docstring). The recall floor is 0.5, the pytest bound that
    proves cell selection works on this near-uniform data at n_probe=6/8
    (measured 0.92-0.94 at sf0.1 — see ivf_knn_neighbors); the fill count
    is structural (6 of 8 probed cells always hold >= 5 candidates)."""
    from movie_recommendation_etl_spark.plans.dedup_similarity import (
        q60_knn_bruteforce,
    )

    ann = ivf_knn_neighbors(spark, sf_dir)
    exact = q60_knn_bruteforce(spark, sf_dir)
    return _ann_contract(ann, exact, hits_num=1, hits_den=2)


# Shared stoplist for the RELATIONAL tf-idf twin (q71). Deliberately small
# and static so the DuckDB oracle can embed the identical list.
_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for",
    "with", "as", "at", "by", "it", "its", "this", "that", "be", "are",
    "was", "were", "from",
)
_SQL_STOPLIST = ", ".join(f"'{s}'" for s in _STOPWORDS)


@query(
    "q71_tfidf_cosine_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    filt AS (SELECT * FROM toks WHERE term NOT IN ({_SQL_STOPLIST})),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM filt GROUP BY 1, 2),
    dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) >= 3
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf AS DOUBLE)
                   * ((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(list_aggregate(list_sort(list(w * w)), 'sum')) AS nrm
        FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
               list_aggregate(list_sort(list(q.w * d.w)), 'sum') AS dotp
        FROM w q JOIN w d USING (term)
        WHERE q.doc_id < 5 AND d.doc_id <> q.doc_id
        GROUP BY 1, 2
    ),
    cosd AS (
        SELECT query_id, neighbor_id,
               dotp / (x.nrm * y.nrm) AS cosine_sim
        FROM dots
        JOIN nrm x ON x.doc_id = query_id
        JOIN nrm y ON y.doc_id = neighbor_id
    ),
    r AS (
        SELECT query_id, neighbor_id, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, neighbor_id)
                   AS rnk
        FROM cosd
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cosine_sim
    FROM r WHERE rnk <= 5
    """,
)
def q71_tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's SEMANTICS under the exact-match gate: tf-idf weighting
    + cosine top-5, expressed relationally (explode → tf → document
    frequency → weight → sparse dot via term equi-join) so DuckDB can replay
    it bit-for-bit — the oracle-checked complement to the MLlib q70 path,
    which the gate can only row-count.

    Cross-engine determinism choices (every one verified to hash-match):
    - idf is the SMOOTHED RATIO (n+1)/(df+1), not ln of it — IEEE division
      is correctly rounded in both engines, while ln diverges in the last
      ulp on ~6% of this domain (measured).
    - dot products and squared norms fold value-sorted lists sequentially
      (array_sort + double fold == DuckDB list_sort + list_aggregate),
      making the sums order-independent without decimal casts.
    - sqrt and the final division are correctly rounded per IEEE-754.

    Scale shape: tf/df are map-side-combined aggs; the sparse dot joins on
    term with the 5-query side broadcast, so the big side never shuffles;
    per-pair lists are bounded by per-doc vocabulary, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\W+"), lambda x: x != F.lit("")
    )
    terms = docs.select("doc_id", F.explode(toks).alias("term")).filter(
        ~F.col("term").isin(*_STOPWORDS)
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") >= 3
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * ((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("w"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fold_sum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    nrm = (
        w.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.col("w") * F.col("w"))).alias("sq"))
        .select("doc_id", F.sqrt(fold_sum(F.col("sq"))).alias("nrm"))
    )
    qw = w.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "term", F.col("w").alias("wq")
    )
    dots = (
        F.broadcast(qw)
        .join(
            w.select(
                F.col("doc_id").alias("neighbor_id"),
                "term",
                F.col("w").alias("wd"),
            ),
            "term",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.array_sort(F.collect_list(F.col("wq") * F.col("wd"))).alias("ps"))
        .select("query_id", "neighbor_id", fold_sum(F.col("ps")).alias("dotp"))
    )
    nq = nrm.select(F.col("doc_id").alias("query_id"), F.col("nrm").alias("nrm_q"))
    nd = nrm.select(
        F.col("doc_id").alias("neighbor_id"), F.col("nrm").alias("nrm_d")
    )
    cosd = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nd, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (F.col("dotp") / (F.col("nrm_q") * F.col("nrm_d"))).alias(
                "cosine_sim"
            ),
        )
    )
    wnd = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cosd.withColumn("rnk", F.row_number().over(wnd))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "rnk", "cosine_sim")
    )


def _flagship_ann(spark: SparkSession, sf_dir: str):
    """Fit the flagship pipeline and answer the flagship query; returns
    (fitted PipelineModel, top-5 neighbor frame). Shared by the bench/entry
    neighbor surface and the q70 contract (which also needs the fitted
    CountVectorizer's vocabulary size)."""
    docs = load_table(spark, sf_dir, "documents")
    # vecs come back cached: the LSH fit and every subsequent ANN query
    # reuse them without re-running tokenize/TF-IDF
    model, vecs = fit_document_vectors(docs)
    lsh = fit_lsh(vecs)
    index = prepare_index(lsh, vecs, "doc_id")
    return model, recommend(lsh, index, "doc_id", FLAGSHIP_QUERY_DOC, top_k=TOP_K)


def flagship_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: reference get_recommendations re-expressed Spark-first.

    documents → RegexTokenizer → StopWordsRemover → CountVectorizer(minDF=3)
    → IDF(minDocFreq=3) → Normalizer(p=2) → seeded BRP-LSH(1.95, 14 tables)
    → approxNearestNeighbors(k+1) → drop self → ordered top-5.

    The transformed corpus is cached between the LSH fit and the query —
    the reference's .py pipeline skipped this and recomputed its lineage
    once per sink (SURVEY §3.1 step 6), a 4x cost we don't copy. The LSH
    hash column is ALSO precomputed via prepare_index: without it,
    approxNearestNeighbors re-transforms the whole corpus on every query
    (~60 s/query at 604k docs, measured) — this is the warm path and the
    shape any caller should copy. `entry()` consumes this neighbor-level
    frame; the q70 registry slot wraps it in the contract gate (r11)."""
    return _flagship_ann(spark, sf_dir)[1]


def flagship_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 for the flagship query doc in the SAME semantic space as
    the MLlib pipeline (ln-smoothed idf, minDF=3, default English stoplist),
    computed relationally — explode → tf → df → w=tf*ln((n+1)/(df+1)) →
    sparse dot via term equi-join — so it shares no code with the MLlib
    path it checks. L2 normalization cancels in the cosine, so it is
    omitted. Same scale shape as q71: map-side-combined aggs, the 1-query
    side broadcast into the term join, per-pair work bounded by per-doc
    vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\W+"), lambda x: x != F.lit("")
    )
    terms = docs.select("doc_id", F.explode(toks).alias("term")).filter(
        ~F.col("term").isin(*EN_STOPWORDS)
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") >= 3
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                )
            ).alias("w"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fold_sum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    nrm = (
        w.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.col("w") * F.col("w"))).alias("sq"))
        .select("doc_id", F.sqrt(fold_sum(F.col("sq"))).alias("nrm"))
    )
    qw = w.filter(F.col("doc_id") == FLAGSHIP_QUERY_DOC).select(
        "term", F.col("w").alias("wq")
    )
    dots = (
        F.broadcast(qw)
        .join(
            w.select(F.col("doc_id").alias("neighbor_id"), "term",
                     F.col("w").alias("wd")),
            "term",
        )
        .filter(F.col("neighbor_id") != FLAGSHIP_QUERY_DOC)
        .groupBy("neighbor_id")
        .agg(F.array_sort(F.collect_list(F.col("wq") * F.col("wd"))).alias("ps"))
        .select("neighbor_id", fold_sum(F.col("ps")).alias("dotp"))
    )
    qn = nrm.filter(F.col("doc_id") == FLAGSHIP_QUERY_DOC).select(
        F.col("nrm").alias("nrm_q")
    )
    cosd = (
        dots.join(
            nrm.select(F.col("doc_id").alias("neighbor_id"),
                       F.col("nrm").alias("nrm_d")),
            "neighbor_id",
        )
        .crossJoin(F.broadcast(qn))
        .select(
            "neighbor_id",
            (F.col("dotp") / (F.col("nrm_q") * F.col("nrm_d"))).alias(
                "cosine_sim"
            ),
        )
    )
    wnd = W.orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        cosd.withColumn("rnk", F.row_number().over(wnd))
        .filter(F.col("rnk") <= TOP_K)
        .select("neighbor_id", "rnk", "cosine_sim")
    )


@query(
    "q70_recommend_similar_docs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    filt AS (
        SELECT DISTINCT doc_id, term FROM toks
        WHERE term NOT IN ({SQL_EN_STOPLIST})
    ),
    vocab AS (SELECT term FROM filt GROUP BY term HAVING COUNT(*) >= 3)
    SELECT CAST({FLAGSHIP_QUERY_DOC} AS BIGINT) AS query_id,
           (SELECT COUNT(*) FROM documents) AS n_docs,
           CAST(LEAST((SELECT COUNT(*) FROM vocab), 262144) AS INTEGER)
               AS vocab_size,
           CAST(5 AS INTEGER) AS n_returned,
           CAST(1 AS INTEGER) AS self_excluded,
           CAST(1 AS INTEGER) AS neighbors_distinct,
           CAST(1 AS INTEGER) AS dist_ordered,
           CAST(1 AS INTEGER) AS recall_ok
    """,
)
def q70_recommend_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship under the CONTRACT hash gate (r11; the q44/q61 pattern —
    the last rows-only slot closed, 50/50 oracled). The MLlib LSH candidate
    walk is engine-specific, but these are checkable facts the single
    emitted row carries:

    - ``vocab_size``: the fitted CountVectorizer's actual vocabulary size —
      DuckDB independently recomputes it from raw text (tokenize → default
      English stoplist → document frequency ≥ minDF), so minDF semantics
      and the tokenizer/stoplist parity are cross-engine checked against
      the REAL fitted model, hash-exact.
    - ``n_docs``: corpus row count, both engines from their own scan.
    - Structural flags: exactly top_k rows returned, the query doc
      excluded, neighbors distinct, distances nondecreasing in rank.
    - ``recall_ok``: ≥3 of the 5 LSH neighbors appear in the exact top-5,
      where the exact side (flagship_exact_topk) recomputes the same
      ln-idf cosine space relationally, sharing no code with MLlib.
      Integer compare; the floor matches the ≥3/5 bound
      test_flagship_matches_exact_cosine has held across every round's
      testdata regen (measured 5/5 at sf0.001/0.01/0.1 this round —
      pytest keeps the exact values visible).

    A broken pipeline stage (wrong stoplist, lost minDF pruning, broken
    LSH bucketing/widening, dropped self-filter) flips an exact value or a
    flag and hash-fails the driver gate instead of hiding behind a
    rows-only row count."""
    from pyspark.ml.feature import CountVectorizerModel

    model, ann = _flagship_ann(spark, sf_dir)
    vocab_size = next(
        len(s.vocabulary)
        for s in model.stages
        if isinstance(s, CountVectorizerModel)
    )
    exact = flagship_exact_topk(spark, sf_dir)
    hits = ann.join(
        exact.select(F.col("neighbor_id").alias("doc_id")), "doc_id"
    ).agg(F.count(F.lit(1)).alias("hits"))
    # Global (unpartitioned) window is safe here: `ann` is the flagship
    # top-k result — at most k+1 rows by construction — so the single
    # window task sorts a handful of rows, same rationale as the ≤k-row
    # frames in ml/ivf.py and operators/topk.py (r16 notes, commit 92323b4).
    flagged = ann.select(
        "doc_id",
        (F.col("dist") < F.lag("dist").over(W.orderBy("rank")))
        .cast("int")
        .alias("inv"),
    )
    stats = flagged.select(
        F.count(F.lit(1)).cast("int").alias("n_returned"),
        F.max((F.col("doc_id") == FLAGSHIP_QUERY_DOC).cast("int")).alias(
            "has_self"
        ),
        F.count_distinct(F.col("doc_id")).cast("int").alias("n_distinct"),
        F.max("inv").alias("dist_inverted"),
    )
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        stats.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.lit(FLAGSHIP_QUERY_DOC).cast("bigint").alias("query_id"),
            "n_docs",
            F.lit(vocab_size).cast("int").alias("vocab_size"),
            "n_returned",
            (F.col("has_self") == 0).cast("int").alias("self_excluded"),
            (F.col("n_distinct") == F.col("n_returned"))
            .cast("int")
            .alias("neighbors_distinct"),
            F.coalesce(
                (F.col("dist_inverted") == 0).cast("int"), F.lit(1)
            ).alias("dist_ordered"),
            (F.col("hits") * TOP_K >= F.col("n_returned") * 3)
            .cast("int")
            .alias("recall_ok"),
        )
    )
