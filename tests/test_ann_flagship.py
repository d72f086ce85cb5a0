"""Flagship ANN tests (SURVEY.md §5.3-5.4): LSH recall against brute-force
cosine oracles, recommend() contract, model persistence round-trip."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.ml.ann import fit_lsh
from movie_recommendation_etl_spark.ml.tfidf import fit_document_vectors
from movie_recommendation_etl_spark.plans.registry import QUERIES
from movie_recommendation_etl_spark.sources.catalog import load_table
from movie_recommendation_etl_spark.sources.writers import (
    load_lsh_model,
    save_model,
)
import movie_recommendation_etl_spark.plans.all  # noqa: F401


def test_recommend_contract(spark, sf_dir):
    from movie_recommendation_etl_spark.plans.recommend import (
        flagship_neighbors,
    )

    rows = flagship_neighbors(spark, sf_dir).collect()
    assert len(rows) == 5
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["doc_id"] != 42 for r in rows)
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)


def test_recommend_uses_prepared_index(spark, sf_dir):
    """q70 must query a prepare_index()'d corpus: the dataset passed to
    approxNearestNeighbors already carries the LSH `hashes` column (cached),
    so MLlib skips its per-query whole-corpus re-transform (~60 s/query at
    the reference's 604k docs). Asserts the structural property only (hashes
    column present + cached) — wall-clock bounds are machine-dependent and
    flake on contended hosts (r3 ADVICE)."""
    from movie_recommendation_etl_spark.ml.ann import (
        fit_lsh, prepare_index, recommend,
    )
    from movie_recommendation_etl_spark.ml.tfidf import fit_document_vectors
    from movie_recommendation_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    _, vecs = fit_document_vectors(docs)
    vecs = vecs.cache()
    index = None
    try:
        lsh = fit_lsh(vecs)
        index = prepare_index(lsh, vecs, "doc_id")
        # the prepared index is what MLlib checks for: hashes column present
        assert "hashes" in index.columns
        assert index.storageLevel.useMemory  # cached, not recomputed per query
        first = recommend(lsh, index, "doc_id", 42, top_k=5).collect()
        second = recommend(lsh, index, "doc_id", 7, top_k=5).collect()
        assert len(first) == 5 and len(second) == 5
    finally:
        vecs.unpersist()
        if index is not None:
            index.unpersist()


def test_flagship_matches_exact_cosine(spark, sf_dir):
    """The LSH top-5 must substantially agree with exact cosine over the
    TF-IDF vectors (the reference's only 'tests' were retrieval spot checks,
    execute.ipynb cells 74-86 — this is the principled version)."""
    docs = load_table(spark, sf_dir, "documents")
    _, vecs = fit_document_vectors(docs)
    rows = vecs.select("doc_id", "norm_features").collect()
    ids = np.array([r["doc_id"] for r in rows])
    m = np.array([r["norm_features"].toArray() for r in rows])
    qi = int(np.where(ids == 42)[0][0])
    sims = m @ m[qi]
    exact5 = [int(ids[j]) for j in np.argsort(-sims) if ids[j] != 42][:5]
    from movie_recommendation_etl_spark.plans.recommend import (
        flagship_neighbors,
    )

    lsh5 = [r["doc_id"] for r in flagship_neighbors(spark, sf_dir).collect()]
    assert len(set(exact5) & set(lsh5)) >= 3


def test_en_stopwords_inline_matches_mllib(spark):
    """The inlined stop list (ml/en_stopwords.py) must be bit-identical to
    what the live JVM's StopWordsRemover actually applies — the q70 oracle
    embeds the inline copy, so drift here would silently desynchronize the
    vocab_size cross-check."""
    from pyspark.ml.feature import StopWordsRemover

    from movie_recommendation_etl_spark.ml.en_stopwords import EN_STOPWORDS

    assert list(EN_STOPWORDS) == StopWordsRemover.loadDefaultStopWords(
        "english"
    )


def test_flagship_exact_topk_matches_numpy(spark, sf_dir):
    """flagship_exact_topk's relational ln-idf space must equal the MLlib
    vector space: its top-5 set and ordering match numpy exact cosine over
    the ACTUAL fitted pipeline's vectors. This is the lemma that makes
    q70's recall_ok flag meaningful (the exact side shares no code with
    MLlib)."""
    from movie_recommendation_etl_spark.plans.recommend import (
        flagship_exact_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    _, vecs = fit_document_vectors(docs)
    rows = vecs.select("doc_id", "norm_features").collect()
    ids = np.array([r["doc_id"] for r in rows])
    m = np.array([r["norm_features"].toArray() for r in rows])
    qi = int(np.where(ids == 42)[0][0])
    sims = m @ m[qi]
    exact5 = [int(ids[j]) for j in np.argsort(-sims) if ids[j] != 42][:5]
    rel = [
        r["neighbor_id"]
        for r in sorted(
            flagship_exact_topk(spark, sf_dir).collect(),
            key=lambda r: r["rnk"],
        )
    ]
    assert rel == exact5


def test_q70_contract_query(spark, sf_dir):
    """The q70 contract gate (r11): one row, every structural flag and the
    recall flag TRUE, and the exact columns tied to the real corpus/model —
    n_docs equals the documents row count and vocab_size equals the fitted
    CountVectorizer's vocabulary (recomputed independently by the DuckDB
    oracle in the driver gate)."""
    rows = QUERIES["q70_recommend_similar_docs"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["query_id"] == 42
    assert r["n_docs"] == load_table(spark, sf_dir, "documents").count()
    assert 0 < r["vocab_size"] <= 262144
    assert r["n_returned"] == 5
    assert r["self_excluded"] == 1
    assert r["neighbors_distinct"] == 1
    assert r["dist_ordered"] == 1
    assert r["recall_ok"] == 1


def test_batch_ann_recall_vs_bruteforce(spark, sf_dir):
    from movie_recommendation_etl_spark.plans.recommend import (
        lsh_knn_neighbors,
    )

    exact: dict[int, set] = {}
    for r in QUERIES["q60_knn_bruteforce"](spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict[int, set] = {}
    for r in lsh_knn_neighbors(spark, sf_dir).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8


def test_ann_recall_at_driver_scale(spark):
    """Recall gate at sf0.01 — the driver's correctness scale (r3 VERDICT
    #5), measured on the neighbor-level ANN frames the q61/q62 contract
    gates wrap (r11: those registry slots now hash-assert the SAME floors
    cross-engine; this test keeps the exact measured values visible and
    guards the helpers directly). LSH batch ANN must hit recall@5 >= 0.8
    against the exact brute-force answer; IVF probes 6 of its 8 cells
    (r11 — on near-uniform synthetic embeddings recall tracks the probed
    fraction; see ivf_knn_neighbors' docstring) and must clear 0.5, the
    floor that proves cell selection works at any probe setting."""
    from movie_recommendation_etl_spark.plans.recommend import (
        ivf_knn_neighbors,
        lsh_knn_neighbors,
    )

    sf = "/root/testdata/sf0.01"
    exact: dict[int, set] = {}
    for r in QUERIES["q60_knn_bruteforce"](spark, sf).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(exact) == 20

    def recall(fn) -> float:
        approx: dict[int, set] = {}
        for r in fn(spark, sf).collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(exact[q] & approx.get(q, set())) / len(exact[q])
            for q in exact
        ) / len(exact)

    assert recall(lsh_knn_neighbors) >= 0.8
    assert recall(ivf_knn_neighbors) >= 0.5


def test_ann_contract_queries(spark, sf_dir):
    """The q61/q62 contract gates (r11): 20 rows each (one per exact-side
    query), every query filled to exactly top_k, the suite recall flag
    TRUE, and exact_top1_sim bit-identical to q60's rank-1 cosine — the
    column the DuckDB oracle recomputes independently."""
    top1 = {
        r["query_id"]: r["cosine_sim"]
        for r in QUERIES["q60_knn_bruteforce"](spark, sf_dir).collect()
        if r["rnk"] == 1
    }
    for qname in ("q61_knn_lsh_embeddings", "q62_knn_ivf_embeddings"):
        rows = QUERIES[qname](spark, sf_dir).collect()
        assert len(rows) == 20, qname
        assert all(r["n_returned"] == 5 for r in rows), qname
        assert all(r["suite_recall_ok"] == 1 for r in rows), qname
        assert {r["query_id"]: r["exact_top1_sim"] for r in rows} == top1


def test_lsh_model_roundtrip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    _, vecs = fit_document_vectors(docs)
    vecs = vecs.cache()
    model = fit_lsh(vecs)
    path = str(tmp_path / "lsh_model")
    save_model(model, path)
    back = load_lsh_model(path)
    q = vecs.filter(F.col("doc_id") == 42).first()["norm_features"]
    a = [r["doc_id"] for r in model.approxNearestNeighbors(vecs, q, 6).collect()]
    b = [r["doc_id"] for r in back.approxNearestNeighbors(vecs, q, 6).collect()]
    assert a == b


def test_ann_index_roundtrip(spark, sf_dir, tmp_path):
    """Cold-start serving path: save_ann_index + load_ann_index must
    reconstruct the index in the driver — every row, with its 14 stored
    LSH bucket values — and recommend() over the loaded index + loaded
    model returns exactly the fresh Spark answer."""
    from movie_recommendation_etl_spark.ml.ann import (
        prepare_index,
        recommend,
    )
    from movie_recommendation_etl_spark.sources.writers import (
        load_ann_index,
        save_ann_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    _, vecs = fit_document_vectors(docs)
    vecs = vecs.cache()
    model = fit_lsh(vecs)
    index = prepare_index(model, vecs, "doc_id")
    fresh = recommend(model, index, "doc_id", 42, top_k=5).collect()

    mpath, ipath = str(tmp_path / "lsh_model"), str(tmp_path / "ann_index")
    save_model(model, mpath)
    save_ann_index(index, ipath)
    model2 = load_lsh_model(mpath)
    index2 = load_ann_index(spark, ipath, id_col="doc_id")
    try:
        assert len(index2) == vecs.count()
        assert index2.hashes.shape == (len(index2), 14)
        served = recommend(model2, index2, "doc_id", 42, top_k=5).collect()
        assert [tuple(r) for r in served] == [tuple(r) for r in fresh]
    finally:
        vecs.unpersist()
        index.unpersist()


def test_ann_index_incremental_append(spark, sf_dir, tmp_path):
    """Incremental ingest: vectorize ONLY a new batch through the frozen
    pipeline + LSH models and append to the persisted index. The merged
    index must equal transforming the full corpus with the same frozen
    models — O(batch) admission with byte-stable existing vectors."""
    from movie_recommendation_etl_spark.ml.ann import (
        prepare_index,
        recommend,
    )
    from movie_recommendation_etl_spark.ml.tfidf import (
        transform_document_vectors,
    )
    from movie_recommendation_etl_spark.sources.writers import (
        append_ann_index,
        load_ann_index,
        save_ann_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    model, vecs_old = fit_document_vectors(old)
    vecs_old = vecs_old.cache()
    lsh = fit_lsh(vecs_old)
    index = prepare_index(lsh, vecs_old, "doc_id")
    ipath = str(tmp_path / "ann_index")
    save_ann_index(index, ipath)
    append_ann_index(
        lsh, transform_document_vectors(model, new), ipath, "doc_id"
    )
    loaded = load_ann_index(spark, ipath, id_col="doc_id")
    try:
        all_ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
        assert sorted(loaded.ids.tolist()) == all_ids
        assert loaded.hashes.shape == (len(all_ids), 14)
        full = lsh.transform(transform_document_vectors(model, docs))
        a = recommend(lsh, loaded, "doc_id", 42, top_k=5).collect()
        b = recommend(lsh, full, "doc_id", 42, top_k=5).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert len(a) == 5
    finally:
        vecs_old.unpersist()
        index.unpersist()


def test_ann_index_layout(spark, sf_dir, tmp_path):
    """A saved index is exactly (id, features, hashes) in every parquet
    file, after save_ann_index and after append_ann_index alike; an index
    written with every column of the vector frame (the layout before the
    projection) still loads to the same LshIndex arrays."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from movie_recommendation_etl_spark.ml.ann import prepare_index
    from movie_recommendation_etl_spark.sources.writers import (
        append_ann_index,
        load_ann_index,
        save_ann_index,
    )

    def layouts(path):
        return {
            tuple(pq.read_schema(f).names)
            for f in Path(path).glob("*.parquet")
        }

    docs = load_table(spark, sf_dir, "documents")
    _, vecs = fit_document_vectors(docs)
    lsh = fit_lsh(vecs)
    index = prepare_index(lsh, vecs, "doc_id")
    cols = ("doc_id", "norm_features", "hashes")
    narrow, wide = str(tmp_path / "narrow"), str(tmp_path / "wide")
    try:
        assert tuple(index.columns) == cols
        save_ann_index(index, narrow)
        assert layouts(narrow) == {cols}
        save_ann_index(lsh.transform(vecs), wide)
        assert all(len(names) > len(cols) for names in layouts(wide))
        a = load_ann_index(spark, narrow, id_col="doc_id")
        b = load_ann_index(spark, wide, id_col="doc_id")
        for attr in ("ids", "indptr", "indices", "values", "p_ptr",
                     "p_rows", "p_vals", "hashes", "sq_norms"):
            assert np.array_equal(getattr(a, attr), getattr(b, attr)), attr

        extra = vecs.filter(F.col("doc_id") < 10).withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
        append_ann_index(lsh, extra, narrow, "doc_id")
        assert layouts(narrow) == {cols}
        grown = load_ann_index(spark, narrow, id_col="doc_id")
        assert len(grown) == len(a) + 10
    finally:
        index.unpersist()
        vecs.unpersist()


def _spark_answers(model, index, id_col, query_ids, top_k):
    """The Spark recommend() answer per query id, sixteen requests at a
    time: each is a short chain of small jobs, and overlapping their
    scheduling waits runs the 501 requests ≈17% faster than four at a
    time on 4 cores."""
    from concurrent.futures import ThreadPoolExecutor

    from movie_recommendation_etl_spark.ml.ann import recommend

    def one(q):
        return recommend(model, index, id_col, q, top_k=top_k).collect()

    with ThreadPoolExecutor(16) as pool:
        return dict(zip(query_ids, pool.map(one, query_ids)))


def _assert_same_answers(driver, spark_side, id_col):
    for q, want in spark_side.items():
        got = driver[q]
        assert [(r[id_col], r["rank"]) for r in got] == [
            (r[id_col], r["rank"]) for r in want
        ], q
        assert all(
            abs(a["dist"] - b["dist"]) <= 1e-12 for a, b in zip(got, want)
        ), q


def test_loaded_index_matches_spark_recommend(spark, sf_dir, tmp_path):
    """The driver-resident index (load_ann_index) against the Spark path
    it replaces (recommend on the prepare_index frame of the same model):
    for every doc_id and one absent id, identical (id, rank) lists and
    distances within 1e-12, and the driver path launches no Spark job."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from movie_recommendation_etl_spark.ml.ann import (
        prepare_index,
        recommend,
    )
    from movie_recommendation_etl_spark.sources.writers import (
        load_ann_index,
        save_ann_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    _, vecs = fit_document_vectors(docs)
    vecs = vecs.cache()
    model = fit_lsh(vecs)
    index = prepare_index(model, vecs, "doc_id")
    ipath = str(tmp_path / "ann_index")
    save_ann_index(index, ipath)
    try:
        ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
        assert len(ids) == 500
        queries = [*ids, max(ids) + 1]
        loaded = load_ann_index(spark, ipath, id_col="doc_id")
        sc = spark.sparkContext

        def jobs_of(group, fn):
            sc.setJobGroup(group, group)
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return out, sc.statusTracker().getJobIdsForGroup(group)

        driver, jobs = jobs_of("driver-path-recommend", lambda: {
            q: recommend(model, loaded, "doc_id", q, top_k=5).collect()
            for q in queries
        })
        assert jobs == []
        # the same count sees the Spark path's jobs
        _, jobs = jobs_of("spark-path-recommend", lambda: recommend(
            model, index, "doc_id", ids[0], top_k=5
        ).collect())
        assert len(jobs) > 0
        # the loaded index is shared read-only: concurrent requests (more
        # threads than cores, short switch interval) give the same answers
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(16) as pool:
                threaded = list(pool.map(
                    lambda q: recommend(model, loaded, "doc_id", q, 5),
                    queries,
                    timeout=120,
                ))
        finally:
            sys.setswitchinterval(switch)
        assert threaded == [driver[q] for q in queries]
        spark_side = _spark_answers(model, index, "doc_id", queries, 5)
        assert driver[queries[-1]] == [] and spark_side[queries[-1]] == []
        assert all(len(driver[q]) == 5 for q in ids)
        _assert_same_answers(driver, spark_side, "doc_id")
    finally:
        vecs.unpersist()
        index.unpersist()


def test_loaded_index_dense_string_ids(spark, sf_dir, tmp_path):
    """Dense feature rows (embeddings_as_vectors output) and string ids
    load and answer like the Spark path; loading a frame saved without
    prepare_index fails with one ValueError, and recommend refuses
    columns the index was not loaded with."""
    import pytest

    from movie_recommendation_etl_spark.ml.ann import (
        embeddings_as_vectors,
        prepare_index,
        recommend,
    )
    from movie_recommendation_etl_spark.sources.writers import (
        load_ann_index,
        save_ann_index,
    )

    emb = embeddings_as_vectors(spark, sf_dir).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("key"),
        "norm_vec",
    )
    model = fit_lsh(emb, "norm_vec")
    index = prepare_index(model, emb, "key")
    ipath = str(tmp_path / "ann_index")
    save_ann_index(index, ipath)
    try:
        loaded = load_ann_index(
            spark, ipath, id_col="key", features_col="norm_vec"
        )
        assert len(loaded) == 500 and loaded.dim == 64
        queries = ["v0", "v7", "v42", "v123", "v499"]
        driver = {
            q: recommend(
                model, loaded, "key", q, top_k=5, features_col="norm_vec"
            ).collect()
            for q in queries
        }
        spark_side = {
            q: recommend(
                model, index, "key", q, top_k=5, features_col="norm_vec"
            ).collect()
            for q in queries
        }
        assert all(len(driver[q]) == 5 for q in queries)
        _assert_same_answers(driver, spark_side, "key")
        with pytest.raises(ValueError, match="features_col"):
            recommend(model, loaded, "key", "v0", top_k=5)
        with pytest.raises(ValueError, match="id_col"):
            recommend(model, loaded, "vec_id", 0, features_col="norm_vec")

        bare = str(tmp_path / "no_hashes")
        save_ann_index(emb, bare)
        with pytest.raises(ValueError, match="hashes"):
            load_ann_index(spark, bare, id_col="key", features_col="norm_vec")
    finally:
        index.unpersist()


def test_loaded_index_trailing_empty_vector(spark, tmp_path):
    """An empty feature vector (a document with only rare terms) stored
    last, right after a multi-term row that is the query's true nearest
    neighbour: the driver path must still screen that row in and agree
    with the Spark path; an index of only empty vectors still answers."""
    import math

    from pyspark.ml.linalg import SparseVector

    from movie_recommendation_etl_spark.ml.ann import (
        prepare_index,
        recommend,
    )
    from movie_recommendation_etl_spark.sources.writers import (
        load_ann_index,
        save_ann_index,
    )

    def unit(terms):
        norm = math.sqrt(sum(v * v for v in terms.values()))
        return SparseVector(8, {i: v / norm for i, v in terms.items()})

    # no two distances tie for queries 0-4 (ties at the (k+1)-th
    # distance are broken arbitrarily by MLlib); every unit vector is at
    # distance 1 from the empty row 5, so 5 is not used as a query
    rows = [
        (0, unit({0: 1, 7: 1})),
        (1, unit({1: 1, 7: 0.3})),
        (2, unit({2: 1, 3: 0.5, 7: 0.2})),
        (3, unit({0: 1, 3: 1, 7: 0.1})),
        # nearest to 0; its last term carries most of the dot product
        (4, unit({0: 0.6, 7: 0.8})),
        (5, SparseVector(8, [], [])),
    ]
    vecs = spark.createDataFrame(rows, ["id", "norm_features"]).coalesce(1)
    model = fit_lsh(vecs)
    index = prepare_index(model, vecs)
    ipath = str(tmp_path / "ann_index")
    save_ann_index(index, ipath)
    try:
        loaded = load_ann_index(spark, ipath)
        assert loaded.ids.tolist() == [0, 1, 2, 3, 4, 5]
        assert [r["id"] for r in recommend(model, loaded, "id", 0, 1)] == [4]
        for q in range(5):
            for k in (1, 3):
                driver = {q: recommend(model, loaded, "id", q, k).collect()}
                spark_side = {q: recommend(model, index, "id", q, k).collect()}
                _assert_same_answers(driver, spark_side, "id")

        empty = spark.createDataFrame(
            [(i, SparseVector(8, [], [])) for i in range(3)],
            ["id", "norm_features"],
        )
        epath = str(tmp_path / "empty_index")
        save_ann_index(model.transform(empty), epath)
        got = recommend(model, load_ann_index(spark, epath), "id", 1, 1)
        assert [tuple(r) for r in got] == [(0, 1, 0.0)]
    finally:
        index.unpersist()


def test_batch_ann_fills_underreturned_queries(spark, sf_dir):
    """A bucket length so small that no two vectors share a bucket leaves
    every query with fewer than top_k colliding neighbors, so the exact
    top_k fills it — and being exact, it must agree with q60's answer
    sets."""
    from movie_recommendation_etl_spark.ml.ann import (
        batch_ann,
        embeddings_as_vectors,
        fit_lsh,
    )

    emb = embeddings_as_vectors(spark, sf_dir)
    model = fit_lsh(emb, "norm_vec", bucket_length=1e-6)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "norm_vec"
    )
    dataset = emb.select("vec_id", "norm_vec")
    got = batch_ann(
        model, queries, dataset, "vec_id", "query_id", top_k=5
    ).collect()
    by_q: dict[int, set] = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(by_q) == 20
    assert all(len(v) == 5 for v in by_q.values())
    exact: dict[int, set] = {}
    for r in QUERIES["q60_knn_bruteforce"](spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert by_q == exact


def test_batch_ann_is_the_serve_kernel_in_one_arrow_map(spark, tmp_path):
    """batch_ann answers every query exactly as LshIndex.neighbors does on
    the saved index (ids, ranks, bit-identical distances). It runs as one
    Arrow map over the index with no cartesian or nested-loop join, and
    one call plus its collect() runs at most three jobs: the query
    collect, the map stage and the per-query merge."""
    from pyspark.ml.linalg import SparseVector

    from movie_recommendation_etl_spark.ml.ann import (
        batch_ann,
        prepare_index,
    )
    from movie_recommendation_etl_spark.sources.writers import (
        load_ann_index,
        save_ann_index,
    )

    rng = np.random.default_rng(0)
    rows = []
    for i in range(40):
        v = rng.uniform(0.1, 1.0, 5)
        v /= np.linalg.norm(v)
        terms = sorted(rng.choice(50, 5, replace=False).tolist())
        rows.append((i, SparseVector(50, terms, v.tolist())))
    vecs = spark.createDataFrame(rows, ["id", "norm_features"]).cache()
    vecs.count()
    index = None
    try:
        model = fit_lsh(vecs)
        index = prepare_index(model, vecs)
        ipath = str(tmp_path / "ann_index")
        save_ann_index(index, ipath)
        loaded = load_ann_index(spark, ipath)
        sc = spark.sparkContext
        sc.setJobGroup("batch-ann", "batch-ann")
        try:
            out = batch_ann(
                model, vecs.filter("id % 7 = 0"), index, "id", "id", top_k=5
            )
            got = out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("batch-ann")) <= 3
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # the plan that ran
        assert plan.count("MapInArrow") == 1, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        by_q: dict[int, list] = {}
        for r in sorted(got, key=lambda r: (r["query_id"], r["rnk"])):
            by_q.setdefault(r["query_id"], []).append(
                (r["neighbor_id"], r["dist"])
            )
        assert by_q == {q: loaded.neighbors(q, 5) for q in range(0, 40, 7)}
    finally:
        vecs.unpersist()
        if index is not None:
            index.unpersist()
