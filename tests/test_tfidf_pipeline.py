"""TF-IDF pipeline unit tests: stage semantics + the broadcast-dictionary
lemmatizer (SURVEY.md §2.10 M4 — the one truly custom operator)."""

from __future__ import annotations

from movie_recommendation_etl_spark.ml.tfidf import (
    BroadcastLemmatizer,
    fit_document_vectors,
    load_default_lemmas,
)
from movie_recommendation_etl_spark.sources.catalog import load_table


def test_lemmatize_broadcast_map(spark):
    df = spark.createDataFrame(
        [(["running", "dogs", "unknown", "ran"],)], "toks: array<string>"
    )
    lemmas = {"running": "run", "ran": "run", "dogs": "dog"}

    def lem(m):
        stage = BroadcastLemmatizer(m, input_col="toks", output_col="lem")
        return stage.transform(df).collect()[0]["lem"]

    assert lem(lemmas) == ["run", "dog", "unknown", "run"]
    # empty map is the identity
    assert lem({}) == ["running", "dogs", "unknown", "ran"]


def test_tfidf_vectors_are_l2_normalized(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100)
    _, vecs = fit_document_vectors(docs)
    rows = vecs.select("norm_features").collect()
    for r in rows:
        n = float(sum(v * v for v in r["norm_features"].toArray()) ** 0.5)
        assert abs(n - 1.0) < 1e-9 or n == 0.0
    # intermediates dropped
    assert set(vecs.columns) == set(docs.columns) | {"norm_features"}


def test_lemma_pipeline_stage_changes_vocab_exactly(spark):
    """M4 as a pinned pipeline config (reference transform/execute.py:198-202
    runs the AntBNC lemmatizer on every token between tokenization and
    stopword removal). Golden: with the shipped fixture the fitted
    vocabulary contains exactly the lemmas the dictionary prescribes and
    none of the inflected surface forms; without it, the surface forms."""
    from movie_recommendation_etl_spark.ml.tfidf import load_default_lemmas

    lemmas = load_default_lemmas()
    assert lemmas["running"] == "run" and lemmas["wolves"] == "wolf"
    rows = [
        (0, "running wolves ran faster"),
        (1, "the wolves were running"),
        (2, "she saw the wolves running home"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    plain, _ = fit_document_vectors(df, min_df=1, min_doc_freq=0)
    lemmed, _ = fit_document_vectors(
        df, min_df=1, min_doc_freq=0, lemma_map=lemmas
    )
    vocab_plain = set(plain.stages[2].vocabulary)
    # the lemma stage sits between tokenizer and stopper -> CV shifts to [3]
    vocab_lem = set(lemmed.stages[3].vocabulary)
    assert {"running", "wolves", "ran", "faster"} <= vocab_plain
    assert {"run", "wolf", "fast"} <= vocab_lem
    assert not ({"running", "wolves", "ran", "faster"} & vocab_lem)
    # exact golden: vocabulary is precisely the lemmatized, stopped token
    # set ("saw" -> "see" survives stopword removal; the/were/she/home
    # stopwords die AFTER lemmatization, the reference's annotator order)
    assert vocab_lem == {"run", "wolf", "fast", "home", "see"}


def test_large_lemma_dict_broadcast_no_plan_blowup(spark):
    """An AntBNC-sized dictionary (reference transform/execute.py:198-202;
    hundreds of thousands of entries) must NOT bake into the plan as a map
    literal — the broadcast pandas_udf stage keeps the plan O(1) in dict
    size, and the vocabulary golden is unchanged from the small-fixture
    run."""
    from movie_recommendation_etl_spark.ml.tfidf import build_tfidf_pipeline

    big = {f"synthetictok{i}x": f"synthetictok{i}" for i in range(110_000)}
    big.update(load_default_lemmas())
    assert len(big) > 100_000

    rows = [
        (0, "running wolves ran faster"),
        (1, "the wolves were running"),
        (2, "she saw the wolves running home"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pipe = build_tfidf_pipeline(min_df=1, min_doc_freq=0, lemma_map=big)
    assert any(
        isinstance(s, BroadcastLemmatizer) for s in pipe.getStages()
    )
    model = pipe.fit(df)
    out = model.transform(df)
    # same golden as the small fixture: lemmatize THEN stop-remove
    vocab = set(model.stages[3].vocabulary)
    assert vocab == {"run", "wolf", "fast", "home", "see"}
    # the dictionary must not appear in the plan: no synthetic entry
    # leaked, and the whole plan string stays small
    plan = out._jdf.queryExecution().toString()
    assert "synthetictok" not in plan
    assert len(plan) < 50_000


def test_lemma_pipeline_model_roundtrip(spark, sf_dir, tmp_path):
    """The lemma stage saves and loads with the PipelineModel at the
    build's dictionary size (over a thousand entries, like every induced
    map): a reloaded model reproduces norm_features bit for bit."""
    from pyspark.ml import PipelineModel
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.ml.lemmas import expand_inflections

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = [
        r[0]
        for r in base.select(F.explode(F.split("text", " "))).distinct().collect()
    ]
    fillers = [
        "stem" + "".join("abcdefghij"[int(d)] for d in f"{i:03d}")
        for i in range(300)
    ]
    lemma_map = expand_inflections(words + fillers)
    lemma_map.update(load_default_lemmas())
    assert len(lemma_map) > 1024
    # every word again in its -s form, for the lemma stage to map back
    docs = base.select(
        "doc_id",
        F.concat_ws(
            " ", "text", F.regexp_replace("text", r"(\w+)", "$1s")
        ).alias("text"),
    )
    model, vecs = fit_document_vectors(docs, "text", lemma_map=lemma_map)
    path = str(tmp_path / "lemma_model")
    model.write().overwrite().save(path)
    back = PipelineModel.load(path)
    lem = back.stages[1]
    assert isinstance(lem, BroadcastLemmatizer)
    # the given map unioned over the one induced from the corpus
    saved = lem.getOrDefault(lem.lemmaMap)
    assert saved == model.stages[1].getOrDefault("lemmaMap")
    assert lemma_map.items() <= saved.items()
    vocab = back.stages[3].vocabulary
    assert "join" in vocab and "joins" not in vocab
    a = dict(vecs.select("doc_id", "norm_features").collect())
    b = dict(back.transform(docs).select("doc_id", "norm_features").collect())
    assert a == b
    vecs.unpersist()


def test_expand_inflections_orthography():
    """Forward regular morphology (ml/lemmas.py): sibilant -es, y→ies/ied,
    e-drop before -ing, ie→ying, monosyllabic CVC doubling — the standard
    public orthographic rules a published lemma list encodes for regular
    words."""
    from movie_recommendation_etl_spark.ml.lemmas import expand_inflections

    m = expand_inflections(["walk", "box", "study", "love", "stop", "die"])
    assert m["walks"] == "walk" and m["walked"] == "walk"
    assert m["walking"] == "walk"
    assert m["boxes"] == "box"
    assert m["studies"] == "study" and m["studied"] == "study"
    assert m["loves"] == "love" and m["loved"] == "love"
    assert m["loving"] == "love"
    assert m["stops"] == "stop" and m["stopped"] == "stop"
    assert m["stopping"] == "stop"
    assert m["dies"] == "die" and m["died"] == "die"
    assert m["dying"] == "die"
    # base forms never map, junk input skipped
    assert "walk" not in m
    assert expand_inflections(["X1", "a"]) == {}


def test_induce_lemma_map_vocabulary_filtered(spark):
    """Corpus induction (ml/lemmas.py): a token maps only when its best
    rule candidate is itself attested in the corpus — 'walking'→'walk'
    needs 'walk' present; CVC ordering restores 'hoping'→'hope'; junk
    strips never materialize because their targets don't exist."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.ml.lemmas import induce_lemma_map

    rows = [
        (0, "walk walked walking walks"),
        (1, "hope hoping hoped stop stopped stopping"),
        (2, "study studies studied movie movies"),
        (3, "running gas sing singing"),  # run absent; 'ga' unattested
        (4, "hop hopping box boxes die dying untie untying"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    m = induce_lemma_map(df.select(F.split("text", " ").alias("toks")), "toks")
    assert m["walked"] == "walk" and m["walking"] == "walk"
    assert m["walks"] == "walk"
    assert m["hoping"] == "hope" and m["hoped"] == "hope"
    # 'hop' is attested too: CVC ordering still prefers the e-restored
    # base for 'hoping', the doubled consonant picks 'hop' for 'hopping'
    assert m["hopping"] == "hop"
    assert m["stopped"] == "stop" and m["stopping"] == "stop"
    assert m["studies"] == "study" and m["studied"] == "study"
    assert m["boxes"] == "box"
    assert m["movies"] == "movie"
    assert m["singing"] == "sing"
    assert m["untying"] == "untie"
    assert m["dying"] == "die"
    assert "running" not in m  # base form not in corpus
    assert "gas" not in m  # 'ga' unattested → no junk strip
    assert "walk" not in m and "hop" not in m  # bases never map


def test_antbnc_scale_dict_defaults_to_broadcast(spark):
    """The r6 M4 closure: a >=50k-entry dictionary — irregular fixture ∪
    regular morphology expanded over a base lexicon — runs through
    BroadcastLemmatizer and lemmatizes both rule-regular and irregular
    forms correctly."""
    from movie_recommendation_etl_spark.ml.lemmas import expand_inflections
    from movie_recommendation_etl_spark.ml.tfidf import build_tfidf_pipeline

    enc = lambda i: "stem" + "".join(  # noqa: E731
        "abcdefghij"[int(d)] for d in f"{i:05d}"
    )
    lexicon = ["walk", "love", "study", "stop"] + [
        enc(i) for i in range(17_000)
    ]
    big = expand_inflections(lexicon)
    big.update(load_default_lemmas())
    assert len(big) >= 50_000

    s42 = enc(42)  # "stemaaaec"
    rows = [
        (0, f"walked wolves {s42}s running"),
        (1, f"studies loving {s42}ed ran"),
        (2, f"stopped {s42}ing walks wolves"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pipe = build_tfidf_pipeline(min_df=1, min_doc_freq=0, lemma_map=big)
    assert any(isinstance(s, BroadcastLemmatizer) for s in pipe.getStages())
    model = pipe.fit(df)
    vocab = set(model.stages[3].vocabulary)
    assert {"walk", "wolf", "study", "love", "stop", "run", s42} <= vocab
    assert not ({"walked", "wolves", "studies", "running", s42 + "s"} & vocab)


def test_min_df_prunes_rare_terms(spark):
    rows = [(i, "common words here") for i in range(10)] + [
        (99, "common rareterm here")
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    model, _ = fit_document_vectors(df, min_df=3, min_doc_freq=0)
    cv = model.stages[2]
    assert "rareterm" not in cv.vocabulary
    assert "common" in cv.vocabulary


def test_q40_lemma_arm_map_is_safe_and_fires(spark, sf_dir):
    """The q40 lemma arm's embedded dictionary must be SQL-literal-safe
    (lowercase alpha only — it is pasted into the DuckDB oracle), never
    map a key to itself, and provably FIRE through BroadcastLemmatizer:
    every doc gets 8 planted inflected keys, so n_lemmatized >= 8
    everywhere."""
    from movie_recommendation_etl_spark.plans.registry import QUERIES
    from movie_recommendation_etl_spark.plans.text_analysis import (
        _LEMMA_MAP,
    )

    assert _LEMMA_MAP
    for k, v in _LEMMA_MAP.items():
        assert k != v
        assert k.isalpha() and k.islower(), k
        assert v.isalpha() and v.islower(), v
    rows = QUERIES["q40_text_profile_suite"](spark, sf_dir).select(
        "doc_id", "n_lemmatized", "lemma_fp"
    ).collect()
    assert rows
    assert all(r["n_lemmatized"] >= 8 for r in rows)
    # the fp actually depends on the mapping: distinct docs, distinct fps
    assert len({r["lemma_fp"] for r in rows}) > 1


def test_vocabulary_order_ignores_partitioning(spark, sf_dir):
    """CountVectorizer orders equal-count terms by how its input happens
    to be partitioned; fit_document_vectors renumbers the vocabulary in
    sorted term order, so the same docs at 1 and at 4 partitions give the
    same vocabulary and bit-identical vectors."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fits = [
        fit_document_vectors(docs.repartition(n, "doc_id")) for n in (1, 4)
    ]
    (m1, v1), (m4, v4) = fits
    assert m1.stages[2].vocabulary == m4.stages[2].vocabulary
    assert m1.stages[2].vocabulary == sorted(m1.stages[2].vocabulary)
    rows = [
        dict(v.select("doc_id", "norm_features").collect()) for v in (v1, v4)
    ]
    assert rows[0] == rows[1]
    for _, v in fits:
        v.unpersist()


def test_single_pass_fit_matches_pipeline_fit(spark, sf_dir):
    """Differential: the single-pass fit equals the plain Pipeline.fit of
    build_tfidf_pipeline renumbered to sorted term order, bit for bit —
    lemma map, vocabulary, IDF weights, and norm_features recomputed from
    the plain fit's unnormalized TF-IDF with Normalizer's arithmetic
    (squares summed in index order, then one division per value). The fit
    is given the shipped fixture and induces the rest, as build_features
    does; the reference gets the same union built by hand."""
    import math

    from movie_recommendation_etl_spark.ml.lemmas import induce_lemma_map
    from movie_recommendation_etl_spark.ml.tfidf import build_tfidf_pipeline

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokenizer = build_tfidf_pipeline("text").getStages()[0]
    lemma_map = induce_lemma_map(tokenizer.transform(docs), "__tokens")
    lemma_map.update(load_default_lemmas())
    ref = build_tfidf_pipeline("text", lemma_map=lemma_map).fit(docs)
    model, vecs = fit_document_vectors(
        docs, "text", lemma_map=load_default_lemmas()
    )
    assert model.stages[1].getOrDefault("lemmaMap") == lemma_map

    ref_vocab = ref.stages[3].vocabulary
    vocab = model.stages[3].vocabulary
    assert vocab == sorted(ref_vocab)
    to_new = {i: vocab.index(t) for i, t in enumerate(ref_vocab)}
    ref_idf = ref.stages[4].idf.toArray()
    new_idf = model.stages[4].getScalingVec().toArray()
    assert [new_idf[to_new[i]] for i in range(len(ref_vocab))] == list(ref_idf)

    got = dict(vecs.select("doc_id", "norm_features").collect())
    ref_rows = ref.transform(docs).select("doc_id", "__tfidf_features")
    for doc_id, tfidf in ref_rows.collect():
        pairs = sorted(
            (to_new[int(i)], float(x))
            for i, x in zip(tfidf.indices, tfidf.values)
        )
        sq = 0.0
        for _, x in pairs:
            sq += x * x
        norm = math.sqrt(sq)
        want = [x / norm if norm else x for _, x in pairs]
        assert list(got[doc_id].indices) == [j for j, _ in pairs]
        assert list(got[doc_id].values) == want
    vecs.unpersist()


def _small_corpus(spark):
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
    # word j is in documents 0..j, j + 1 times in each: document frequency
    # j + 1 and total count (j + 1)^2. "hotel" is in 34 of the 40
    # documents, a pair where Python's math.log((m + 1) / (df + 1))
    # differs from Java's in the last bit. No two terms tie in total
    # count. One document is empty, one has only stop words.
    rows = []
    for i in range(7):
        toks = [w for j, w in enumerate(words) if j >= i for _ in range(j + 1)]
        rows.append((i, " ".join(toks + ["hotel"] * (i < 3))))
    rows += [(7, ""), (8, "the and of")]
    rows += [(i, "hotel") for i in range(9, 40)]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _reference_fit(df, **kwargs):
    """(vocabulary, {term: idf}) of the MLlib estimators' fit."""
    from movie_recommendation_etl_spark.ml.tfidf import build_tfidf_pipeline

    ref = build_tfidf_pipeline(**kwargs).fit(df)
    vocab = ref.stages[2].vocabulary
    return vocab, dict(zip(vocab, ref.stages[3].idf.toArray().tolist()))


def _fit(df, **kwargs):
    model, vecs = fit_document_vectors(df, **kwargs)
    vecs.unpersist()
    vocab = model.stages[2].vocabulary
    weights = model.stages[3].getScalingVec().toArray().tolist()
    return vocab, dict(zip(vocab, weights))


def test_vocabulary_cap_keeps_most_frequent_terms(spark, monkeypatch):
    """Over the cap the vocabulary keeps the most frequent terms by total
    count, as CountVectorizer(vocabSize=cap) does, then sorts them."""
    from movie_recommendation_etl_spark.ml import tfidf

    df = _small_corpus(spark)
    monkeypatch.setattr(tfidf, "VOCAB_CAP", 4)
    ref_vocab, ref_idf = _reference_fit(df, min_df=1, min_doc_freq=0)
    vocab, idf = _fit(df, min_df=1, min_doc_freq=0)
    assert vocab == sorted(ref_vocab) == ["echo", "foxtrot", "golf", "hotel"]
    assert idf == ref_idf


def test_min_doc_freq_above_min_df_zeroes_weights(spark):
    """Terms kept by min_df but under min_doc_freq weigh 0, as in IDF.fit;
    the rest weigh log((m + 1) / (df + 1)) over every document, the empty
    and the stop-word-only one included."""
    df = _small_corpus(spark)
    vocab, idf = _fit(df, min_df=2, min_doc_freq=4)
    ref_vocab, ref_idf = _reference_fit(df, min_df=2, min_doc_freq=4)
    assert vocab == sorted(ref_vocab)
    assert idf == ref_idf
    assert [t for t in vocab if idf[t] == 0.0] == ["bravo", "charlie"]


def test_empty_vocabulary_fails_loudly(spark):
    """Where CountVectorizer.fit logs "The vocabulary size is empty" and
    fits a model of zero-length vectors, the fit raises."""
    import pytest

    df = _small_corpus(spark)
    assert _reference_fit(df, min_df=50)[0] == []
    with pytest.raises(ValueError, match="The vocabulary size is empty"):
        fit_document_vectors(df, min_df=50)
