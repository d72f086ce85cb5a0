"""Semantic tests for near-dup / similarity operators (beyond the oracle
gate): LSH recall on planted twins, simhash locality, knn ordering."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_recommendation_etl_spark.plans.dedup_similarity import (
    _with_twins,
    q51_twin_similarity_suite,
    q60_knn_bruteforce,
)
from movie_recommendation_etl_spark.operators.neardup import (
    minhash_neardup_pairs,
)
from movie_recommendation_etl_spark.sources.catalog import load_table


def test_minhash_lsh_recovers_planted_twins(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    pairs = minhash_neardup_pairs(_with_twins(docs)).collect()
    twin_pairs = {
        (r["doc_a"], r["doc_b"]) for r in pairs if r["doc_b"] == r["doc_a"] + 1000000
    }
    # 4 bands x 3 rows at jaccard ~0.95 -> detection probability ~0.999.
    assert len(twin_pairs) >= 0.9 * n_docs
    assert all(r["jaccard"] >= 0.8 for r in pairs)


def test_simhash_twins_are_close(spark, sf_dir):
    rows = q51_twin_similarity_suite(spark, sf_dir).collect()
    assert rows
    close = sum(1 for r in rows if r["hamming"] <= 4)
    assert close >= 0.9 * len(rows)
    assert all(0 <= r["simhash_orig"] < 2**16 for r in rows)
    # the merged jaccard arm: truncated twins are near-dups by construction
    neardup = sum(1 for r in rows if r["is_neardup"])
    assert neardup >= 0.9 * len(rows)
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in rows)


def test_srp_blocking_prunes_and_recalls(spark, sf_dir):
    """q53's (label, SRP band) blocking vs the exact all-pairs ground truth:
    candidate pairs must be a small fraction of the within-label pair count
    (the r2 scale audit: label blocks alone are quadratic) AND the verified
    result must recover every >=0.8-cosine pair (recall 1.0 on this data —
    twin-pair band-miss probability is ~1e-8 at 12 bands x 8 bits)."""
    import hashlib
    import math

    import numpy as np

    from movie_recommendation_etl_spark.operators.neardup import (
        srp_candidate_pairs,
    )
    from movie_recommendation_etl_spark.plans.dedup_similarity import (
        q53_embedding_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "label", "embedding").collect()
    ids, labels, vecs = {}, {}, {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        vecs[r["vec_id"]] = v
        labels[r["vec_id"]] = r["label"]
        tw = v * np.array(
            [
                1.1
                if hashlib.md5(f"t:{r['vec_id']}:{i}".encode()).hexdigest()[0]
                in "89abcdef"
                else 0.9
                for i in range(len(v))
            ]
        )
        vecs[r["vec_id"] + 100000] = tw
        labels[r["vec_id"] + 100000] = r["label"]
    # exact ground truth: all within-label pairs with cosine >= 0.8
    by_label: dict = {}
    for vid, lbl in labels.items():
        by_label.setdefault(lbl, []).append(vid)
    truth = set()
    n_block_pairs = 0
    for lbl, vids in by_label.items():
        vids.sort()
        n_block_pairs += len(vids) * (len(vids) - 1) // 2
        for i, a in enumerate(vids):
            for b in vids[i + 1 :]:
                va, vb = vecs[a], vecs[b]
                cos = float(va @ vb) / (
                    math.sqrt(float(va @ va)) * math.sqrt(float(vb @ vb))
                )
                if cos >= 0.8:
                    truth.add((a, b))
    assert truth  # the planted twins exist
    # candidate volume: the blocking must prune, not enumerate the blocks
    emb_d = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # rebuild the twinned frame exactly as q53 does (original + twins)
    from movie_recommendation_etl_spark.operators.neardup import HEX_HIGH

    twin_emb = F.transform(
        F.col("emb"),
        lambda x, i: x
        * F.when(
            F.md5(
                F.concat(
                    F.lit("t:"),
                    F.col("vec_id").cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                )
            )
            .substr(1, 1)
            .isin(*HEX_HIGH),
            F.lit(1.1),
        ).otherwise(F.lit(0.9)),
    )
    twins = emb_d.select("vec_id", "label", twin_emb.alias("emb")).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label", "emb"
    )
    unioned = emb_d.unionByName(twins)
    cand = srp_candidate_pairs(unioned, "vec_id", "label", "emb", dim=64)
    n_cand = cand.count()
    assert n_cand < 0.15 * n_block_pairs, (n_cand, n_block_pairs)
    # recall: every ground-truth pair is in the verified result
    found = {
        (r["vec_a"], r["vec_b"])
        for r in q53_embedding_neardup_pairs(spark, sf_dir).collect()
    }
    assert truth <= found
    # and nothing below-threshold sneaks in (verify step is exact)
    assert found == truth


def test_knn_bruteforce_shape(spark, sf_dir):
    rows = q60_knn_bruteforce(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, nbrs in by_q.items():
        nbrs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in nbrs] == list(range(1, len(nbrs) + 1))
        assert len(nbrs) <= 5
        assert all(r["neighbor_id"] != qid for r in nbrs)
        sims = [r["cosine_sim"] for r in nbrs]
        assert sims == sorted(sims, reverse=True)


def test_int8_quantization_roundtrip_and_cosine(spark, sf_dir):
    """Quantized cosine tracks exact cosine within 2% absolute on the real
    embeddings table, the round-trip error per component is bounded by
    scale/2, and all-zero vectors survive unharmed."""
    from movie_recommendation_etl_spark.functions.vectors import (
        cosine,
        cosine_quantized,
        dequantize_int8,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    a = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        quantize_int8("embedding").alias("qv"),
    )
    # round-trip error bound: |x - q*scale| <= scale/2 per component
    bad = a.select(
        F.size(
            F.filter(
                F.zip_with(
                    "v",
                    dequantize_int8("qv"),
                    lambda x, y: F.abs(x.cast("double") - y),
                ),
                lambda d: d > F.col("qv.scale") / 2.0 + 1e-12,
            )
        ).alias("n_bad")
    )
    assert bad.agg(F.sum("n_bad")).first()[0] == 0

    # cosine agreement on 200 consecutive pairs
    b = a.withColumnRenamed("vec_id", "id2").withColumnRenamed(
        "v", "v2"
    ).withColumnRenamed("qv", "qv2")
    pairs = a.join(b, F.col("id2") == F.col("vec_id") + 1)
    diffs = pairs.select(
        F.abs(
            cosine("v", "v2") - cosine_quantized("qv", "qv2")
        ).alias("d")
    )
    assert diffs.agg(F.max("d")).first()[0] < 0.02

    # degenerate zero vector
    z = spark.createDataFrame([([0.0, 0.0, 0.0],)], "v: array<float>")
    zq = z.select(
        quantize_int8("v").alias("q"),
        dequantize_int8(quantize_int8("v")).alias("back"),
    ).first()
    assert zq["q"]["scale"] == 0.0
    assert list(zq["back"]) == [0.0, 0.0, 0.0]

    # cosine against a zero vector is undefined: NULL, never NaN/0-division
    zc = spark.createDataFrame(
        [([0.0, 0.0, 0.0], [1.0, 2.0, 3.0])],
        "z: array<float>, v: array<float>",
    ).select(
        cosine_quantized(
            quantize_int8("z"), quantize_int8("v")
        ).alias("zero_one"),
        cosine_quantized(
            quantize_int8("z"), quantize_int8("z")
        ).alias("zero_zero"),
        cosine_quantized(
            quantize_int8("v"), quantize_int8("v")
        ).alias("self"),
    ).first()
    assert zc["zero_one"] is None and zc["zero_zero"] is None
    assert abs(zc["self"] - 1.0) < 1e-9


def test_minhash_pipeline_reliable_checkpoint_identical(spark, sf_dir, tmp_path):
    """checkpoint_dir (reliable checkpoint) must not change the verified
    pair set."""
    from movie_recommendation_etl_spark.operators.neardup import (
        minhash_neardup_pairs,
    )
    from movie_recommendation_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    default = sorted(
        (r["doc_a"], r["doc_b"]) for r in minhash_neardup_pairs(docs).collect()
    )
    reliable = sorted(
        (r["doc_a"], r["doc_b"])
        for r in minhash_neardup_pairs(
            docs, checkpoint_dir=str(tmp_path / "nd_ckpt")
        ).collect()
    )
    assert default == reliable
