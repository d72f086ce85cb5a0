"""Scale bounds for banded near-dup candidate generation (r14 VERDICT #1).

The hazard: md5 uniformity spreads *distinct* band signatures, but a viral
near-identical cluster (templated pages — the exact corpus near-dup exists
to clean) shares band hashes, so the unguarded bucket self-join emits
B*(B-1)/2 candidate pairs for a B-row bucket. These tests pin the bound
that closes it — the bucket guard: (band_idx, band_hash) buckets over
``max_bucket_size`` are star-joined against their min id instead of
self-joined, for near-identical and byte-identical clusters alike — and
prove output-equality with the unguarded join wherever the guard does not
trigger (the correctness-gate corpora), identical groups included.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.operators.graph import (
    connected_components,
)
from movie_recommendation_etl_spark.operators.neardup import (
    banded_candidate_pairs,
    jaccard,
    minhash_bands,
    minhash_neardup_pairs,
    word_shingles,
)


def _unguarded_pairs(docs, threshold=0.8):
    """The pre-r15 pipeline (band every doc, plain bucket self-join, exact
    verify) — the semantic reference the bounded path must match whenever
    no bucket overflows."""
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        F.col("doc_id"), word_shingles(toks, 3).alias("sh")
    ).filter(F.size("sh") > 0)
    bands_df = minhash_bands(base)
    expl = bands_df.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    a, b = expl.alias("a"), expl.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return (
        pairs.join(
            base.withColumnRenamed("sh", "sh_a").withColumnRenamed(
                "doc_id", "doc_a"
            ),
            "doc_a",
        )
        .join(
            base.withColumnRenamed("sh", "sh_b").withColumnRenamed(
                "doc_id", "doc_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _rows(df):
    return {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12)) for r in df.collect()
    }


def test_bucket_guard_unit(spark):
    """banded_candidate_pairs on a hand-built bucket layout: the normal
    bucket emits its clique, the overflow bucket a min-id star, and a row
    in both contributes to both (distinct unions them)."""
    rows = [(i, 0, "big") for i in range(1, 8)] + [
        (7, 0, "ok"),
        (8, 0, "ok"),
        (9, 0, "ok"),
    ]
    expl = spark.createDataFrame(rows, "doc_id long, band_idx int, band_hash string")
    stats: dict = {}
    got = {
        (r["doc_a"], r["doc_b"])
        for r in banded_candidate_pairs(
            expl, max_bucket_size=5, stats=stats
        ).collect()
    }
    star = {(1, i) for i in range(2, 8)}
    clique = {(7, 8), (7, 9), (8, 9)}
    assert got == star | clique
    assert stats["overflow_buckets"] == 1
    assert stats["max_bucket_size_seen"] == 7


def test_near_identical_cluster_stays_linear(spark):
    """The verdict's named scale-killer: a 10k-doc near-identical cluster
    (shared template, one unique trailing token each — shingle sets are
    DISTINCT) must produce O(cluster) candidate pairs via the bucket
    guard, not O(cluster^2), and connected components over the verified
    pairs must still land the whole cluster in ONE group."""
    n = 10_000
    template = " ".join(f"w{j}" for j in range(40))
    docs = spark.createDataFrame(
        [(i, f"{template} u{i}") for i in range(n)], "doc_id long, text string"
    )
    stats: dict = {}
    pairs = minhash_neardup_pairs(
        docs, max_bucket_size=1000, stats=stats
    ).persist()
    n_pairs = pairs.count()
    assert stats["overflow_buckets"] >= 1  # distinct sets: the guard fires
    # linear certificate: at most one star pair per (band, member), not B^2/2
    assert 0 < n_pairs <= 8 * n
    # all emitted pairs are genuine near-dups of the template family
    assert pairs.filter(F.col("jaccard") < 0.8).count() == 0
    # clustering: one giant component. A handful of docs may be genuine
    # LSH misses (their unique trailing token flipped enough signature
    # minima to land them in singleton buckets for all 4 bands) — that is
    # banding recall, identical with or without the guard.
    cc = connected_components(pairs, "doc_a", "doc_b").persist()
    top = (
        cc.groupBy("cluster_id").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] >= 0.999 * n
    cc.unpersist()
    pairs.unpersist()


def test_identical_cluster_collapses_to_star(spark):
    """10k byte-identical docs share ALL their band hashes, so every band
    bucket overflows the guard and star-joins against the min id: the
    verified output is exactly the min-id star with jaccard 1.0 (never
    the ~5e7-pair clique), and clustering still sees one component."""
    n = 10_000
    text = " ".join(f"w{j}" for j in range(40))
    docs = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    stats: dict = {}
    pairs = minhash_neardup_pairs(
        docs, max_bucket_size=1000, stats=stats
    ).persist()
    rows = pairs.collect()
    assert stats["overflow_buckets"] == 4  # every band: 12 hashes / 3 rows
    assert stats["max_bucket_size_seen"] == n
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {
        (0, i) for i in range(1, n)
    }
    assert all(r["jaccard"] == 1.0 for r in rows)
    cc = connected_components(pairs, "doc_a", "doc_b")
    assert cc.select("cluster_id").distinct().count() == 1
    pairs.unpersist()


# ids keep the earlier [collapse-seed] form, with the guard-only pipeline
# as the "False" mode, so the test's history lines up across renames
@pytest.mark.parametrize("seed", [7, 41], ids=["False-7", "False-41"])
def test_collapse_matches_unguarded_join(spark, seed):
    """Fuzz equivalence: on corpora mixing unique docs, planted identical
    groups (sizes 2-5, all under the bucket cap), and truncated twins,
    the guarded pipeline emits EXACTLY the unguarded join's rows: same
    pairs, same jaccard values (the correctness-gate contract)."""
    rng = random.Random(seed)
    vocab = [f"t{j}" for j in range(30)]
    rows, next_id = [], 0

    def add(text):
        nonlocal next_id
        rows.append((next_id, text))
        next_id += 1

    for _ in range(120):
        add(" ".join(rng.choice(vocab) for _ in range(rng.randint(6, 20))))
    # identical groups: sizes 2..5 (within-group jaccard exactly 1.0)
    for g in range(8):
        text = " ".join(rng.choice(vocab) for _ in range(12))
        for _ in range(2 + g % 4):
            add(text)
    # near-dup twins (drop last 2 tokens)
    for i in range(0, 40, 3):
        add(" ".join(rows[i][1].split(" ")[:-2]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats: dict = {}
    got = _rows(minhash_neardup_pairs(docs, stats=stats))
    want = _rows(_unguarded_pairs(docs))
    assert stats["overflow_buckets"] == 0
    assert got == want
    assert want  # the corpus must actually exercise near-dup pairs


def test_srp_bucket_guard_bounds_duplicate_embeddings(spark):
    """Mass-duplicated embeddings share every SRP band value; the guard must
    cap that bucket's candidates at a star instead of B^2/2 pairs."""
    from movie_recommendation_etl_spark.operators.neardup import (
        srp_candidate_pairs,
    )

    n, dim = 2000, 8
    base = [0.3, -1.2, 0.8, 0.1, -0.4, 0.9, -0.7, 0.2]
    rows = [(i, "L", base) for i in range(n)] + [
        (n + i, "L", [v * (1 + 0.01 * i) - 0.5 * ((i + j) % 3) for j, v in enumerate(base)])
        for i in range(50)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, label string, emb array<double>")
    stats: dict = {}
    cand = srp_candidate_pairs(
        vecs, "vec_id", "label", "emb", dim=dim, max_bucket_size=500,
        stats=stats,
    )
    n_cand = cand.count()
    assert stats["overflow_buckets"] >= 1
    # duplicated block contributes ~one star pair per band per member,
    # never the ~2e6 pairs of the unguarded self-join
    assert 0 < n_cand < 40 * n


def test_first_bucket_emission_set_identical(spark):
    """r20 first-matching-bucket emission: prior_match_cols must never
    change the PAIR SET — only how many times the join emits each pair
    before the distinct. Hand-built layout: docs 1,2 share buckets at
    band 0 AND band 1 (the duplicate-emission case the prior filter
    suppresses), doc 3 joins them only at band 1 (prior values differ,
    so it must still be emitted there)."""
    rows = [
        (1, 0, "A", None),
        (1, 1, "B", "A"),
        (2, 0, "A", None),
        (2, 1, "B", "A"),
        (3, 1, "B", "X"),
    ]
    expl = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_hash string, __p0 string"
    )
    want = {(1, 2), (1, 3), (2, 3)}
    for prior in ((), ("__p0",)):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in banded_candidate_pairs(
                expl, max_bucket_size=2000, prior_match_cols=prior
            ).collect()
        }
        assert got == want, prior


def test_first_bucket_emission_disabled_on_overflow(spark):
    """When ANY bucket overflows, the prior filter must fall back to
    emit-everywhere: an earlier shared bucket may be an overflow bucket
    that star-joins instead of emitting the pair. Docs 1..7 share the
    band-0 bucket (overflows at cap 5, star against min id 1) and docs
    2,3 also share band 1 (non-overflow); suppressing (2,3) at band 1
    because of the band-0 "prior match" would lose the pair entirely —
    the star only emits (1,2) and (1,3)."""
    rows = [(i, 0, "BIG", None) for i in range(1, 8)] + [
        (2, 1, "B", "BIG"),
        (3, 1, "B", "BIG"),
    ]
    expl = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_hash string, __p0 string"
    )
    for prior in ((), ("__p0",)):
        stats: dict = {}
        got = {
            (r["doc_a"], r["doc_b"])
            for r in banded_candidate_pairs(
                expl,
                max_bucket_size=5,
                prior_match_cols=prior,
                stats=stats,
            ).collect()
        }
        assert stats["overflow_buckets"] == 1
        assert got == {(1, i) for i in range(2, 8)} | {(2, 3)}


def test_explode_bands_with_priors_layout(spark):
    """The helper's prior columns are the earlier band values, NULL-padded
    at and past the row's own band index."""
    from movie_recommendation_etl_spark.operators.neardup import (
        explode_bands_with_priors,
    )

    df = spark.createDataFrame(
        [(7, ["h0", "h1", "h2"])], "doc_id long, bands array<string>"
    )
    expl, prior_cols = explode_bands_with_priors(df, 3)
    assert prior_cols == ("__prior0", "__prior1")
    got = {
        (r["band_idx"], r["band_hash"], r["__prior0"], r["__prior1"])
        for r in expl.collect()
    }
    assert got == {
        (0, "h0", None, None),
        (1, "h1", "h0", None),
        (2, "h2", "h0", "h1"),
    }
