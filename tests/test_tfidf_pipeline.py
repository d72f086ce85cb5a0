"""TF-IDF pipeline unit tests: stage semantics + the optional broadcast-map
lemmatizer (SURVEY.md §2.10 M4 — the one truly custom operator)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_recommendation_etl_spark.ml.tfidf import (
    fit_document_vectors,
    lemmatize,
    load_default_lemmas,
)
from movie_recommendation_etl_spark.sources.catalog import load_table


def test_lemmatize_broadcast_map(spark):
    df = spark.createDataFrame(
        [(["running", "dogs", "unknown", "ran"],)], "toks: array<string>"
    )
    lemmas = {"running": "run", "ran": "run", "dogs": "dog"}
    out = df.select(lemmatize(F.col("toks"), lemmas).alias("lem")).collect()[0]
    assert out["lem"] == ["run", "dog", "unknown", "run"]
    # empty map is the identity
    ident = df.select(lemmatize(F.col("toks"), {}).alias("lem")).collect()[0]
    assert ident["lem"] == ["running", "dogs", "unknown", "ran"]


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
    literal — the pipeline auto-switches to the broadcast pandas_udf stage,
    the plan stays O(1) in dict size, and the vocabulary golden is
    unchanged from the small-fixture run."""
    from movie_recommendation_etl_spark.ml.tfidf import (
        BroadcastLemmatizer,
        build_tfidf_pipeline,
        load_default_lemmas,
    )

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
    # same golden as the literal formulation: lemmatize THEN stop-remove
    vocab = set(model.stages[3].vocabulary)
    assert vocab == {"run", "wolf", "fast", "home", "see"}
    # the dictionary must not appear in the plan: no synthetic entry
    # leaked, and the whole plan string stays small
    plan = out._jdf.queryExecution().toString()
    assert "synthetictok" not in plan
    assert len(plan) < 50_000


def test_lemma_formulations_agree(spark):
    """Literal-map and broadcast formulations are interchangeable: forcing
    the broadcast stage onto the small fixture yields the identical fitted
    vocabulary and token streams."""
    from movie_recommendation_etl_spark.ml.tfidf import load_default_lemmas

    lemmas = load_default_lemmas()
    rows = [
        (0, "running wolves ran faster"),
        (1, "the wolves were running"),
        (2, "she saw the wolves running home"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    lit_model, _ = fit_document_vectors(
        df, min_df=1, min_doc_freq=0, lemma_map=lemmas
    )
    bc_model, _ = fit_document_vectors(
        df, min_df=1, min_doc_freq=0, lemma_map=lemmas, lemma_literal_max=0
    )
    assert set(lit_model.stages[3].vocabulary) == set(
        bc_model.stages[3].vocabulary
    )
    # CountVectorizer breaks equal-frequency ties arbitrarily between fits,
    # so compare term->weight maps, not raw index-space vectors
    def term_weights(model):
        vocab = model.stages[3].vocabulary
        return {
            r["doc_id"]: {
                vocab[int(i)]: round(float(w), 9)
                for i, w in zip(
                    r["norm_features"].indices, r["norm_features"].values
                )
            }
            for r in model.transform(df)
            .select("doc_id", "norm_features")
            .collect()
        }

    assert term_weights(lit_model) == term_weights(bc_model)


def test_lemma_pipeline_model_roundtrip(spark, tmp_path):
    """The SQLTransformer lemma stage serializes with the PipelineModel —
    a saved/reloaded model produces identical token streams."""
    from pyspark.ml import PipelineModel

    from movie_recommendation_etl_spark.ml.tfidf import build_tfidf_pipeline

    df = spark.createDataFrame(
        [(0, "running wolves ran"), (1, "wolves were running")],
        "doc_id: long, text: string",
    )
    model = build_tfidf_pipeline(
        min_df=1, min_doc_freq=0, lemma_map={"running": "run", "wolves": "wolf"}
    ).fit(df)
    path = str(tmp_path / "lemma_model")
    model.write().overwrite().save(path)
    back = PipelineModel.load(path)
    a = model.transform(df).select("norm_features").collect()
    b = back.transform(df).select("norm_features").collect()
    assert [r["norm_features"] for r in a] == [r["norm_features"] for r in b]


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
    from movie_recommendation_etl_spark.ml.lemmas import induce_lemma_map

    rows = [
        (0, "walk walked walking walks"),
        (1, "hope hoping hoped stop stopped stopping"),
        (2, "study studies studied movie movies"),
        (3, "running gas sing singing"),  # run absent; 'ga' unattested
        (4, "hop hopping box boxes die dying untie untying"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    m = induce_lemma_map(df, "text")
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
    # the ie-rule needs two letters before '-ying': 'dying' is left to the
    # irregular dictionary
    assert "dying" not in m
    assert "running" not in m  # base form not in corpus
    assert "gas" not in m  # 'ga' unattested → no junk strip
    assert "walk" not in m and "hop" not in m  # bases never map


def test_antbnc_scale_dict_defaults_to_broadcast(spark):
    """The r6 M4 closure: a >=50k-entry dictionary — irregular fixture ∪
    regular morphology expanded over a base lexicon — routes through
    BroadcastLemmatizer by DEFAULT formulation selection (no override) and
    lemmatizes both rule-regular and irregular forms correctly."""
    from movie_recommendation_etl_spark.ml.lemmas import expand_inflections
    from movie_recommendation_etl_spark.ml.tfidf import (
        BroadcastLemmatizer,
        build_tfidf_pipeline,
        load_default_lemmas,
    )

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
    """The q40 lemma arm's embedded dictionary must stay on the
    map-literal path (<= _LEMMA_LITERAL_MAX entries), be SQL-literal-safe
    (lowercase alpha only — it is pasted into the DuckDB oracle), never
    map a key to itself, and provably FIRE: every doc gets 8 planted
    inflected keys, so n_lemmatized >= 8 everywhere."""
    from movie_recommendation_etl_spark.ml.tfidf import _LEMMA_LITERAL_MAX
    from movie_recommendation_etl_spark.plans.registry import QUERIES
    from movie_recommendation_etl_spark.plans.text_analysis import (
        _LEMMA_MAP,
    )

    assert 0 < len(_LEMMA_MAP) <= _LEMMA_LITERAL_MAX
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


def test_q40_bc_lemma_arm_takes_broadcast_path_and_fires(spark, sf_dir):
    """The r11 broadcast arm's generated dictionary must (a) exceed the
    literal cutoff so build_tfidf_pipeline would select BroadcastLemmatizer
    for it — the arm and the pipeline provably share the selection
    boundary — (b) keep the filler family disjoint from the real map, and
    (c) FIRE on entries only the big dictionary holds: each doc plants 8
    real + 4 filler keys, so n_bc_lemmatized >= n_lemmatized + 4."""
    from movie_recommendation_etl_spark.ml.tfidf import (
        _LEMMA_LITERAL_MAX,
        BroadcastLemmatizer,
        build_tfidf_pipeline,
    )
    from movie_recommendation_etl_spark.plans.registry import QUERIES
    from movie_recommendation_etl_spark.plans.text_analysis import (
        _BC_LEMMA_MAP,
        _LEMMA_MAP,
    )

    assert len(_BC_LEMMA_MAP) > _LEMMA_LITERAL_MAX
    # the real entries survive the union unchanged; fillers are disjoint
    assert all(_BC_LEMMA_MAP[k] == v for k, v in _LEMMA_MAP.items())
    fillers = set(_BC_LEMMA_MAP) - set(_LEMMA_MAP)
    assert fillers and all(
        k.startswith("wug") and k.endswith("ing") for k in fillers
    )
    # the pipeline's auto-selection puts THIS dict on the broadcast stage
    stages = build_tfidf_pipeline(lemma_map=_BC_LEMMA_MAP).getStages()
    assert any(isinstance(s, BroadcastLemmatizer) for s in stages)
    rows = QUERIES["q40_text_profile_suite"](spark, sf_dir).select(
        "n_lemmatized", "n_bc_lemmatized", "lemma_fp", "bc_lemma_fp"
    ).collect()
    assert rows
    assert all(
        r["n_bc_lemmatized"] >= r["n_lemmatized"] + 4 for r in rows
    )
    assert len({r["bc_lemma_fp"] for r in rows}) > 1


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
    vocabulary, IDF vector, and norm_features recomputed from the plain
    fit's unnormalized TF-IDF with Normalizer's arithmetic (squares summed
    in index order, then one division per value). The lemma map is the
    corpus's induced one, as build_features uses it."""
    import math

    from movie_recommendation_etl_spark.ml.lemmas import induce_lemma_map
    from movie_recommendation_etl_spark.ml.tfidf import build_tfidf_pipeline

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lemma_map = induce_lemma_map(docs, "text")
    lemma_map.update(load_default_lemmas())
    ref = build_tfidf_pipeline("text", lemma_map=lemma_map).fit(docs)
    model, vecs = fit_document_vectors(docs, "text", lemma_map=lemma_map)

    ref_vocab = ref.stages[3].vocabulary
    vocab = model.stages[3].vocabulary
    assert vocab == sorted(ref_vocab)
    to_new = {i: vocab.index(t) for i, t in enumerate(ref_vocab)}
    ref_idf = ref.stages[4].idf.toArray()
    new_idf = model.stages[4].idf.toArray()
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
