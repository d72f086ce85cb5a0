"""CLI lifecycle test: the reference user's stage scripts, as subcommands.

transform runs the full CSV -> sinks pipeline; recommend answers from the
staged parquet + persisted LSH model alone (fresh of any in-memory state);
load --print-ddl derives CREATE TABLE from the staged schema. extract's
download/unzip internals are covered by tests/test_extract_ddl.py.
"""

from __future__ import annotations

import zipfile

import pytest

from movie_recommendation_etl_spark.cli import main


@pytest.fixture(scope="module")
def movies_csv(spark, tmp_path_factory):
    from test_pipeline_movies import _franchise_row, HERO, WIZARD
    from movie_recommendation_etl_spark.pipeline import MOVIES_RAW_SCHEMA
    from movie_recommendation_etl_spark.sources.writers import write_csv

    rows = [
        _franchise_row(100 + i, f"Wizard School {i}", WIZARD) for i in range(5)
    ] + [_franchise_row(200 + i, f"Hero Team {i}", HERO) for i in range(5)]
    df = spark.createDataFrame(rows, MOVIES_RAW_SCHEMA)
    path = str(tmp_path_factory.mktemp("cli_movies") / "movies_csv")
    write_csv(df, path)
    return path


def test_cli_transform_then_recommend(
    capsys, monkeypatch, movies_csv, tmp_path
):
    out_dir = str(tmp_path / "staged")
    assert main(["transform", movies_csv, out_dir]) == 0
    assert "vectors ready" in capsys.readouterr().out

    assert main(["recommend", out_dir, "100", "--top-k", "4"]) == 0
    lines = [
        ln
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln and ln[0].isdigit()
    ]
    assert len(lines) == 4
    ids = [int(ln.split("\t")[1]) for ln in lines]
    assert 100 not in ids  # self excluded
    # franchise golden: Wizard School siblings (101-104) dominate
    assert len(set(ids) & {101, 102, 103, 104}) >= 3

    assert main(["load", out_dir, "--print-ddl"]) == 0
    ddl = capsys.readouterr().out
    assert "CREATE TABLE IF NOT EXISTS movie_metadata" in ddl
    assert "CREATE TABLE IF NOT EXISTS master_table" in ddl

    # index-build then recommend: serving from the persisted index must
    # give exactly the same answer as the re-transform path above.
    assert main(["index-build", out_dir]) == 0
    assert "index written" in capsys.readouterr().out
    assert (tmp_path / "staged" / "ann_index").exists()
    # with an index, recommend answers without a SparkSession or the LSH model
    from movie_recommendation_etl_spark import session
    from movie_recommendation_etl_spark.sources import writers

    def no_jvm(*args, **kwargs):
        raise AssertionError("recommend from an index started Spark")

    monkeypatch.setattr(session, "get_spark", no_jvm)
    monkeypatch.setattr(writers, "load_lsh_model", no_jvm)
    assert main(["recommend", out_dir, "100", "--top-k", "4"]) == 0
    lines2 = [
        ln
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln and ln[0].isdigit()
    ]
    assert [int(ln.split("\t")[1]) for ln in lines2] == ids


def test_cli_extract_roundtrip(capsys, tmp_path):
    src = tmp_path / "payload.csv"
    src.write_text("id,title\n1,x\n")
    archive = tmp_path / "site" / "data.zip"
    archive.parent.mkdir()
    with zipfile.ZipFile(archive, "w") as zf:
        zf.write(src, "payload.csv")
    dest = tmp_path / "landing"
    dest.mkdir()
    assert main(["extract", archive.as_uri(), str(dest)]) == 0
    assert (dest / "payload.csv").read_text() == "id,title\n1,x\n"
    assert not (dest / "data.zip").exists()  # archive deleted after unzip


def test_cli_compact_dry_run_and_execute(capsys, spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "frag")
    spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p")
    ).repartition(6).write.partitionBy("p").parquet(path)

    # dry-run plans but does not move files
    assert main(["compact", path, "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert "files ->" in out

    assert main(["compact", path]) == 0
    capsys.readouterr()
    # second invocation reports nothing to do
    assert main(["compact", path]) == 0
    assert "already compact" in capsys.readouterr().out


def test_cli_trainprep_end_to_end(capsys, spark, tmp_path):
    """trainprep: documents parquet -> curated chunks -> shards + manifest
    -> packing map + manifest, token-conserving throughout."""
    import json

    # stopword-rich, non-repetitive, long-ish tokens: passes the lang /
    # quality / repetition gates (the q41 heuristics) without tripping the
    # dup-2gram filter the way a repeated phrase would
    def doc(i):
        return " ".join(
            f"the wordtoken{i}x{j} another{i}y{j}" for j in range(60)
        )

    rows = [(i, doc(i)) for i in range(30)]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out = str(tmp_path / "prep")
    assert (
        main(
            [
                "trainprep", src, out,
                "--chunk-tokens", "32", "--overlap-tokens", "8",
                "--seq-len", "64", "--num-shards", "4",
            ]
        )
        == 0
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["shards"]["n_files"] == 4
    assert summary["shards"]["n_rows"] > 30  # chunking expanded docs
    # packing conserves the chunked token count exactly
    assert summary["pack_map"]["n_tokens"] == summary["shards"]["n_tokens"]

    from movie_recommendation_etl_spark.operators.training_prep import (
        verify_shard_manifest,
    )

    assert verify_shard_manifest(spark, f"{out}/shards")["n_files"] == 4
    assert verify_shard_manifest(spark, f"{out}/pack_map")


def test_cli_trainprep_decontaminates_against_eval(capsys, spark, tmp_path):
    """--eval-path drops curated docs that overlap the eval set by n-grams
    before chunking: the leaked docs' tokens never reach the shards."""
    import json

    def doc(i):
        return " ".join(
            f"the wordtoken{i}x{j} another{i}y{j}" for j in range(60)
        )

    rows = [(i, doc(i)) for i in range(20)]
    src = str(tmp_path / "docs_src2")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    # eval set = verbatim copies of docs 0-4 (a benchmark leak)
    ev = str(tmp_path / "eval_src")
    spark.createDataFrame(
        [(1000 + i, doc(i)) for i in range(5)], "doc_id long, text string"
    ).write.parquet(ev)

    out = str(tmp_path / "prep2")
    assert (
        main(
            [
                "trainprep", src, out,
                "--eval-path", ev,
                "--chunk-tokens", "64", "--overlap-tokens", "0",
                "--seq-len", "64", "--num-shards", "2",
            ]
        )
        == 0
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 15 surviving docs x 180 ws-tokens each
    assert summary["shards"]["n_tokens"] == 15 * 180
    shard_docs = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/shards")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert shard_docs == set(range(5, 20))


def test_cli_trainprep_substring_dedup(capsys, spark, tmp_path):
    """--substring-dedup strips a shared boilerplate passage from every
    surviving doc before chunking (token totals shrink accordingly)."""
    import json

    boiler = " ".join(f"the boiler{j} of common{j}" for j in range(8))

    def doc(i):
        uniq = " ".join(
            f"the wordtoken{i}x{j} another{i}y{j}" for j in range(50)
        )
        return f"{boiler} {uniq}"

    rows = [(i, doc(i)) for i in range(12)]
    src = str(tmp_path / "docs_src3")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out = str(tmp_path / "prep3")
    assert (
        main(
            [
                "trainprep", src, out,
                "--substring-dedup", "--substring-ngram", "8",
                "--chunk-tokens", "64", "--overlap-tokens", "0",
                "--seq-len", "64", "--num-shards", "2",
            ]
        )
        == 0
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # every doc: the 32 boiler tokens go, plus the first unique-part token
    # ("the", itself shared verbatim across docs at the same offset — the
    # final boiler-straddling window is genuinely duplicated); 149 remain
    assert summary["shards"]["n_tokens"] == 12 * 149
    texts = [
        r["chunk_text"]
        for r in spark.read.parquet(f"{out}/shards").collect()
    ]
    assert all("boiler0" not in t for t in texts)


def test_cli_trainprep_perplexity_band(capsys, spark, tmp_path):
    """--trusted-path wires the CCNet-style perplexity band between the
    rule-based quality gate and chunking: planted gibberish docs (stopword-
    scaffolded so they PASS the rule gates, but all-OOV vs the trusted
    vocabulary) are dropped; in-domain docs survive. Also exercises the
    --tokenizer re budget hook end-to-end."""
    import json

    vocab = [f"word{v:02d}" for v in range(50)]

    def in_domain(i):
        # stopword-rich, shared vocabulary, plus per-doc filler tokens so
        # the dup-token-fraction gate (uniq/n) passes; the fillers are in
        # the trusted vocabulary too (trusted docs use the same generator)
        return " ".join(
            f"the {vocab[(i + j) % 50]} and fill{i}x{j}"
            for j in range(40)
        )

    def gibberish(i):
        # same stopword scaffold (passes lang/quality gates), but every
        # content token is unseen in the trusted corpus
        return " ".join(
            f"the qz{i}a{j} and vx{i}b{j}" for j in range(40)
        )

    trusted_rows = [(1000 + i, in_domain(i)) for i in range(20)]
    trusted_src = str(tmp_path / "trusted_src")
    spark.createDataFrame(
        trusted_rows, "doc_id long, text string"
    ).write.parquet(trusted_src)

    normal_ids = list(range(12))
    gib_ids = [100, 101, 102, 103]
    rows = [(i, in_domain(i)) for i in normal_ids] + [
        (i, gibberish(i)) for i in gib_ids
    ]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out = str(tmp_path / "prep")
    assert (
        main(
            [
                "trainprep", src, out,
                "--trusted-path", trusted_src,
                "--perplexity-keep", "0.75",
                "--tokenizer", "re",
                "--chunk-tokens", "32", "--overlap-tokens", "8",
                "--seq-len", "64", "--num-shards", "2",
            ]
        )
        == 0
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["pack_map"]["n_tokens"] == summary["shards"]["n_tokens"]

    shard_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/shards")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert shard_ids.isdisjoint(set(gib_ids))  # band dropped the gibberish
    assert len(shard_ids & set(normal_ids)) >= 10  # in-domain survived


def test_cli_trainprep_model_quality_gate(capsys, spark, tmp_path):
    """--quality-model applies a previously fitted classifier as a baked-
    coefficient Catalyst filter inside the curation scan: docs the model
    scores below tau are dropped even though they pass the rule gates."""
    import json

    from movie_recommendation_etl_spark.operators.quality_model import (
        fit_quality_classifier,
        score_documents,
    )
    from movie_recommendation_etl_spark.sources.writers import save_model

    def good(i):
        # moderate stopword ratio, long-ish unique tokens
        return " ".join(
            f"the contentword{i}x{j} holds another{i}y{j}" for j in range(40)
        )

    def junky(i):
        # stopword-heavy scaffold with UNIQUE fillers per position: dup-
        # token fraction stays 1 - 123/240 ≈ 0.49 < 0.6, so the rule gates
        # pass it at min-quality 0 — only the learned stop-ratio/short-
        # ratio boundary separates it from good()
        return " ".join(
            f"the jx{i}a{j} of jx{i}b{j} to jx{i}c{j}" for j in range(40)
        )

    labeled = spark.createDataFrame(
        [(i, good(i), 1.0) for i in range(20)]
        + [(100 + i, junky(i), 0.0) for i in range(20)],
        "doc_id long, text string, label double",
    )
    model = fit_quality_classifier(labeled)
    model_path = str(tmp_path / "qmodel")
    save_model(model, model_path)

    good_ids = list(range(10))
    junk_ids = [200, 201, 202]
    rows = [(i, good(i)) for i in good_ids] + [
        (i, junky(i - 200 + 50)) for i in junk_ids
    ]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    # sanity 1: WITHOUT the model, every doc (junk included) survives the
    # rule gates at min-quality 0 — otherwise this test would prove the
    # heuristics, not the --quality-model wiring
    from movie_recommendation_etl_spark.operators.curate import (
        curate_documents,
    )

    src_df = spark.createDataFrame(rows, "doc_id long, text string")
    rule_survivors = {
        r["doc_id"]
        for r in curate_documents(src_df, min_quality=0.0)
        .select("doc_id")
        .collect()
    }
    assert rule_survivors == set(good_ids) | set(junk_ids)
    # sanity 2: the model separates the classes on held-out instances
    scored = {
        r["doc_id"]: r["quality_score"]
        for r in score_documents(model, src_df).collect()
    }
    assert all(scored[i] > 0.5 for i in good_ids)
    assert all(scored[i] < 0.5 for i in junk_ids)

    out = str(tmp_path / "prep")
    assert (
        main(
            [
                "trainprep", src, out,
                "--min-quality", "0.0",
                "--quality-model", model_path,
                "--quality-model-tau", "0.5",
                "--chunk-tokens", "32", "--overlap-tokens", "8",
                "--seq-len", "64", "--num-shards", "2",
            ]
        )
        == 0
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["shards"]["n_rows"] > 0

    shard_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/shards")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert shard_ids.isdisjoint(set(junk_ids))
    assert set(good_ids) <= shard_ids


def test_cli_verify_shards(capsys, spark, tmp_path):
    """verify-shards: exit 0 + summary JSON on an intact shard dir; exit 1
    naming the mismatch after a file is tampered with."""
    import glob
    import json

    from movie_recommendation_etl_spark.operators.training_prep import (
        write_shard_manifest,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"token{i} stream {i}") for i in range(100)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "vshards")
    write_training_shards(docs, path, num_shards=2)
    write_shard_manifest(spark, path)

    assert main(["verify-shards", path]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["verified"] and out["n_rows"] == 100 and out["n_files"] == 2

    # tamper: drop one shard file
    victim = sorted(glob.glob(f"{path}/*.parquet"))[0]
    import os

    os.remove(victim)
    assert main(["verify-shards", path]) == 1
    assert "missing file" in capsys.readouterr().out


def test_cli_trainprep_re_budget_tokenizer(capsys, spark, tmp_path):
    """--tokenizer re-budget: chunks budgeted by regex-token cost but the
    shipped shard text keeps its ORIGINAL form (case + punctuation), and
    every shard chunk respects the budget (or is a single token)."""
    import json

    rows = [
        (
            i,
            " ".join(
                f"The Word{i}-{j}, and FILL{i}x{j}!" for j in range(30)
            ),
        )
        for i in range(8)
    ]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out = str(tmp_path / "prep")
    assert (
        main(
            [
                "trainprep", src, out,
                "--tokenizer", "re-budget",
                "--chunk-tokens", "16",
                "--seq-len", "64", "--num-shards", "2",
                "--min-quality", "0.0",
            ]
        )
        == 0
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["shards"]["n_rows"] > 0
    shards = spark.read.parquet(f"{out}/shards").collect()
    assert any("The Word" in r["chunk_text"] for r in shards)  # lossless
    assert all(
        r["budget_cost"] <= 16 or r["n_tokens"] == 1 for r in shards
    )


def test_cli_vector_index_and_search(capsys, sf_dir, tmp_path):
    """The embedding-ANN lifecycle from the command line: build an IVF
    index with all three candidate tiers over the real embeddings table,
    then serve the same query through each tier. Every tier must return
    the query row itself at rank 1 / cosine 1.0 (it is in the index, and
    the sq8/pq stages re-rank exactly), top_k rows total."""
    idx = str(tmp_path / "vec_idx")
    assert (
        main(
            [
                "vector-index",
                f"{sf_dir}/embeddings.parquet",
                idx,
                "--n-centroids", "8",
                "--sq8",
                "--pq-m", "8",
                "--pq-ksub", "16",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "ivf index written" in out and "pq(m=8,ksub=16)" in out

    for tier in ("exact", "sq8", "pq"):
        assert (
            main(
                [
                    "vector-search", idx,
                    "--query-id", "3",
                    "--tier", tier,
                    "--n-probe", "8",
                ]
            )
            == 0
        )
        lines = [
            ln for ln in capsys.readouterr().out.splitlines() if "\t" in ln
        ]
        assert len(lines) == 5, tier
        rnk, nid, sim = lines[0].split("\t")
        assert (rnk, nid) == ("1", "3") and float(sim) == pytest.approx(
            1.0, abs=1e-9
        ), tier

    # unknown id and missing query are user errors, not tracebacks
    assert main(["vector-search", idx, "--query-id", "999999"]) == 1
    assert main(["vector-search", idx]) == 2


def test_cli_trainprep_bloom_decontamination_parity(capsys, spark, tmp_path):
    """--decontam-bloom-bits routes decontamination through the Bloom
    tier; the surviving shard set must be IDENTICAL to the exact
    broadcast path on the same leak-planted corpus."""
    import json

    def doc(i):
        return " ".join(
            f"the bloomtok{i}x{j} other{i}y{j}" for j in range(60)
        )

    rows = [(i, doc(i)) for i in range(20)]
    src = str(tmp_path / "docs_src_bloom")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    ev = str(tmp_path / "eval_src_bloom")
    spark.createDataFrame(
        [(1000 + i, doc(i)) for i in range(5)], "doc_id long, text string"
    ).write.parquet(ev)

    def run(out, extra):
        assert (
            main(
                [
                    "trainprep", src, out,
                    "--eval-path", ev,
                    "--chunk-tokens", "64", "--overlap-tokens", "0",
                    "--seq-len", "64", "--num-shards", "2",
                ]
                + extra
            )
            == 0
        )
        json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/shards")
            .select("doc_id")
            .distinct()
            .collect()
        }

    exact = run(str(tmp_path / "prep_exact"), [])
    bloom = run(
        str(tmp_path / "prep_bloom"), ["--decontam-bloom-bits", "65536"]
    )
    assert bloom == exact == set(range(5, 20))


def test_cli_bpe_train_then_bpe_budget_trainprep(capsys, spark, tmp_path):
    """bpe-train persists a merge table; trainprep --tokenizer bpe-budget
    loads it and budgets chunks by real subword cost. Token conservation:
    the shard text re-splits to the original ws-token stream."""
    import json

    from movie_recommendation_etl_spark.ml.bpe import (
        encode_word,
        load_bpe_model,
    )

    def doc(i):
        # diverse enough to clear the curation dup-token gates, with the
        # shared 'the'/'bpet'/'othr' stems the BPE merges learn from
        return " ".join(
            f"the bpetok{i}x{j} othrtok{i}y{j}" for j in range(60)
        )

    src = str(tmp_path / "docs_bpe")
    spark.createDataFrame(
        [(i, doc(i)) for i in range(12)], "doc_id long, text string"
    ).write.parquet(src)

    model_dir = str(tmp_path / "bpe_model")
    assert (
        main(["bpe-train", src, model_dir, "--num-merges", "40"]) == 0
    )
    assert "bpe model written" in capsys.readouterr().out

    out = str(tmp_path / "prep_bpe")
    assert (
        main(
            [
                "trainprep", src, out,
                "--langs", "",
                "--min-quality", "0.0",
                "--tokenizer", "bpe-budget",
                "--bpe-model", model_dir,
                "--chunk-tokens", "24",
                "--seq-len", "32", "--num-shards", "2",
            ]
        )
        == 0
    )
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    shards = spark.read.parquet(f"{out}/shards")
    rows = shards.select("doc_id", "chunk_idx", "chunk_text").collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"])
        )
    model = load_bpe_model(spark, model_dir)
    for i in range(12):
        toks = doc(i).split()
        joined = " ".join(t for _, t in sorted(by_doc[i]))
        assert joined.split() == toks
        # every chunk's BPE cost respects the budget (no chunk's first
        # token is mid-doc forced over; budget 24 > any single word cost)
        for _, text in by_doc[i]:
            cost = sum(
                len(encode_word(w, model.ranks)) for w in text.split()
            )
            assert cost <= 24

    # bpe-budget without a model is a user error
    assert (
        main(
            [
                "trainprep", src, str(tmp_path / "prep_err"),
                "--langs", "", "--min-quality", "0.0",
                "--tokenizer", "bpe-budget",
            ]
        )
        == 2
    )


def test_cli_vector_search_missing_tier_is_user_error(capsys, sf_dir, tmp_path):
    """Requesting a quantized tier on an index built without it must be a
    clear exit-1 message, not a silent downgrade to the exact path or a
    traceback. Availability is probed via the index's own columns and a
    Spark read of the codebook directory — never a local Path check (the
    index may live on HDFS/S3)."""
    idx = str(tmp_path / "bare_idx")
    assert (
        main(
            [
                "vector-index",
                f"{sf_dir}/embeddings.parquet",
                idx,
                "--n-centroids", "4",
            ]
        )
        == 0
    )
    capsys.readouterr()
    for tier, hint in (("pq", "--pq-m"), ("sq8", "--sq8")):
        assert (
            main(
                ["vector-search", idx, "--query-id", "3", "--tier", tier]
            )
            == 1
        ), tier
        err = capsys.readouterr().err
        assert hint in err, (tier, err)


def test_cli_sql_adhoc_query(capsys, sf_dir, tmp_path):
    """The ad-hoc SQL surface: catalog views register, a join+agg prints a
    TSV header plus rows, LIMIT is enforced inside the plan, parse errors
    are exit-1 messages (not tracebacks), and --out writes the full
    result as parquet."""
    assert (
        main(
            [
                "sql", sf_dir,
                "SELECT r_name, count(*) AS n FROM nation "
                "JOIN region ON n_regionkey = r_regionkey "
                "GROUP BY r_name ORDER BY r_name",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "r_name\tn" and len(out) == 6  # 5 regions + header

    # truncation banner on stderr when the result exceeds --max-rows
    assert (
        main(["sql", sf_dir, "SELECT * FROM nation", "--max-rows", "3"])
        == 0
    )
    cap = capsys.readouterr()
    assert len(cap.out.splitlines()) == 4 and "truncated" in cap.err

    # bad SQL is a user error
    assert main(["sql", sf_dir, "SELEC nope"]) == 1
    assert "sql error" in capsys.readouterr().err

    # --out round-trips the full result
    dest = str(tmp_path / "sql_out")
    assert (
        main(["sql", sf_dir, "SELECT n_name FROM nation", "--out", dest])
        == 0
    )
    capsys.readouterr()
    import duckdb

    con = duckdb.connect()  # must outlive the relation it returns
    assert (
        con.sql(f"SELECT count(*) FROM '{dest}/*.parquet'").fetchone()[0]
        == 25
    )


def test_cli_heavy_hitters(capsys, sf_dir):
    """heavy-hitters over the documents text as bigrams must reproduce
    the naive exact answer (DuckDB), sorted by count desc; a missing
    column is a user error."""
    assert (
        main(
            [
                "heavy-hitters",
                f"{sf_dir}/documents.parquet",
                "--col", "text",
                "--ngrams", "2",
                "--phi", "0.00105",
                "--remerge",
            ]
        )
        == 0
    )
    out = [
        ln.split("\t")
        for ln in capsys.readouterr().out.splitlines()
        if "\t" in ln
    ]
    import duckdb

    con = duckdb.connect()
    expected = con.sql(
        f"""
        WITH toks AS (
            SELECT string_split(text, ' ') AS t
            FROM '{sf_dir}/documents.parquet'
        ),
        grams AS (
            SELECT u.g FROM toks,
            UNNEST(list_transform(
                range(1, len(t)), i -> t[i] || ' ' || t[i + 1]
            )) AS u(g)
        ),
        f AS (SELECT g, count(*) AS cnt FROM grams GROUP BY g),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM f)
        SELECT g, cnt FROM f, tot WHERE cnt > n * 0.00105
        ORDER BY cnt DESC, g
        """
    ).fetchall()
    assert [(g, int(c)) for g, c, _ in out] == [
        (g, c) for g, c in expected
    ]

    assert (
        main(
            [
                "heavy-hitters",
                f"{sf_dir}/documents.parquet",
                "--col", "nope",
            ]
        )
        == 1
    )
    assert "not in" in capsys.readouterr().err


def test_cli_sql_table_mounts_artifact_outputs(capsys, sf_dir, spark, tmp_path):
    """r12 VERDICT #8: --table name=path mounts arbitrary parquet (shard
    and index outputs) next to the catalog views, making `sql` the
    universal inspection surface; malformed specs and missing paths are
    clean user errors."""
    shard = str(tmp_path / "shardlike")
    spark.range(0, 7).selectExpr(
        "id AS seq_id", "id * 10 AS n_tokens"
    ).write.parquet(shard)

    assert (
        main(
            [
                "sql", sf_dir,
                "SELECT count(*) AS n, sum(n_tokens) AS t FROM myshard "
                "JOIN region ON seq_id = r_regionkey",
                "--table", f"myshard={shard}",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "n\tt" and out[1] == "5\t100"  # regionkeys 0..4

    # shadowing a registered catalog view works but WARNS (r13 ADVICE:
    # a silent shadow changes query results with no witness)
    assert (
        main(
            [
                "sql", sf_dir,
                "SELECT count(*) AS n FROM region",
                "--table", f"region={shard}",
            ]
        )
        == 0
    )
    shadowed = capsys.readouterr()
    assert "shadows the registered catalog view 'region'" in shadowed.err
    assert shadowed.out.splitlines()[1] == "7"  # the mount, not the view

    assert main(["sql", sf_dir, "SELECT 1", "--table", "nopath"]) == 2
    assert "name=/path" in capsys.readouterr().err
    assert (
        main(
            [
                "sql", sf_dir, "SELECT 1",
                "--table", f"x={tmp_path}/does_not_exist",
            ]
        )
        == 1
    )
    assert "--table x" in capsys.readouterr().err


def test_cli_sql_runtime_error_and_duplicate_columns(capsys, sf_dir):
    """Two review-found edges: ANSI-mode runtime failures (divide by
    zero) surface at collect, not spark.sql — still a clean exit-1; and
    duplicate output names print POSITIONALLY (Row[name] silently returns
    the first matching field)."""
    assert main(["sql", sf_dir, "SELECT 1/0 AS boom FROM region"]) == 1
    assert "sql error" in capsys.readouterr().err

    assert (
        main(
            [
                "sql", sf_dir,
                "SELECT n_name AS x, r_name AS x FROM nation "
                "JOIN region ON n_regionkey = r_regionkey "
                "WHERE n_name = 'NATION_1'",
            ]
        )
        == 0
    )
    row = [
        ln for ln in capsys.readouterr().out.splitlines() if "\t" in ln
    ][1]
    a, b = row.split("\t")
    assert a == "NATION_1" and b == "AMERICA"  # second x is the REGION


def test_cli_heavy_hitters_parameter_validation(capsys, sf_dir):
    base = ["heavy-hitters", f"{sf_dir}/documents.parquet", "--col", "text"]
    assert main(base + ["--ngrams", "-1"]) == 1
    assert "--ngrams" in capsys.readouterr().err
    assert main(base + ["--phi", "1.5"]) == 1
    assert "--phi" in capsys.readouterr().err


def test_cli_zorder_rewrite(capsys, sf_dir, tmp_path):
    """zorder rewrites a table clustered on the Morton key: round-trips
    all rows with the input schema (no __zkey leak), and bad column lists
    are exit-1 user errors."""
    import duckdb

    src = f"{sf_dir}/orders.parquet"
    dest = str(tmp_path / "orders_z")
    assert (
        main(["zorder", src, dest, "--by", "o_custkey,o_orderkey"]) == 0
    )
    assert "zordered table written" in capsys.readouterr().out
    con = duckdb.connect()
    n_src = con.sql(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    n_dst, cols = con.sql(
        f"SELECT count(*), count(DISTINCT o_orderkey) FROM '{dest}/*.parquet'"
    ).fetchone()
    assert n_dst == n_src == cols
    schema = {
        r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{dest}/*.parquet'"
        ).fetchall()
    }
    assert "__zkey" not in schema

    assert main(["zorder", src, dest, "--by", "o_custkey"]) == 1
    assert ">= 2" in capsys.readouterr().err
    assert main(["zorder", src, dest, "--by", "nope,o_orderkey"]) == 1
    assert "not in" in capsys.readouterr().err


def test_cli_zorder_bucketed_timestamp(capsys, sf_dir, tmp_path):
    """r12 VERDICT #4 done-criterion: the CLI zorders a table on a RAW
    timestamp column via --bucket ts:days (no hand-written
    pre-projection) and footer pruning holds on both dimensions; bad
    bucket specs are exit-1 user errors."""
    from tests.test_zorder import _file_ranges, _mean_coverage

    src = f"{sf_dir}/events.parquet"
    dest = str(tmp_path / "events_z")
    assert (
        main(
            [
                "zorder", src, dest,
                "--by", "ts,user_id",
                "--bucket", "ts:days",
                "--num-files", "8",
            ]
        )
        == 0
    )
    assert "zordered table written" in capsys.readouterr().out
    ts_ranges = _file_ranges(dest, "ts")
    uid_ranges = _file_ranges(dest, "user_id")
    lo_t = min(a for a, _ in ts_ranges)
    hi_t = max(b for _, b in ts_ranges)
    lo_u = min(a for a, _ in uid_ranges)
    hi_u = max(b for _, b in uid_ranges)
    assert _mean_coverage(ts_ranges, lo_t, hi_t) < 0.7
    assert _mean_coverage(uid_ranges, lo_u, hi_u) < 0.7

    assert (
        main(
            ["zorder", src, dest, "--by", "ts,user_id", "--bucket", "ts"]
        )
        == 1
    )
    assert "expected col:" in capsys.readouterr().err
    assert (
        main(
            [
                "zorder", src, dest,
                "--by", "ts,user_id",
                "--bucket", "ts:weeks",
            ]
        )
        == 1
    )
    assert "unknown bucket spec" in capsys.readouterr().err


def test_cli_sql_explain(capsys, sf_dir):
    """--explain prints the formatted physical plan (pushdown visible)
    without executing."""
    assert (
        main(
            [
                "sql", sf_dir,
                "SELECT n_name FROM nation WHERE n_nationkey = 3",
                "--explain",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "PushedFilters" in out and "n_nationkey" in out


def test_cli_sql_explain_out_conflict(capsys, sf_dir):
    assert (
        main(
            [
                "sql", sf_dir, "SELECT 1 AS x FROM region",
                "--explain", "--out", "/tmp/nope_sql_out",
            ]
        )
        == 2
    )
    assert "mutually exclusive" in capsys.readouterr().err


def test_cli_heavy_hitters_incremental_store(capsys, sf_dir, tmp_path):
    """--store admits the input into the persisted MG summary: two
    admissions accumulate n_seen, the candidate list prints, and the
    dominant word of the corpus survives both."""
    store = str(tmp_path / "hh_cli_store")
    base = [
        "heavy-hitters", f"{sf_dir}/documents.parquet",
        "--col", "text", "--ngrams", "1",
        "--phi", "0.02", "--store", store,
    ]
    assert main(base) == 0
    first = capsys.readouterr().out
    assert "admitted: n_seen=" in first
    n1 = int(first.split("n_seen=")[1].split(" ")[0])

    assert main(base) == 0
    second = capsys.readouterr().out
    n2 = int(second.split("n_seen=")[1].split(" ")[0])
    assert n2 == 2 * n1  # lifetime count accumulated across admissions
    assert any("\t" in ln for ln in second.splitlines())  # candidates listed


def test_cli_profile(capsys, sf_dir):
    """profile: one aggregate pass prints per-column nulls / approx
    distinct / min-max / p50-p90; exact values cross-checked against
    DuckDB for nation (tiny, so the HLL estimate must equal the exact
    count and the GK quantile the exact discrete quantile); unknown
    columns are user errors."""
    import duckdb

    assert main(["profile", f"{sf_dir}/nation.parquet"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "rows\t25"
    assert out[1].endswith("\tp50\tp90")
    rows = {ln.split("\t")[0]: ln.split("\t") for ln in out[2:]}
    con = duckdb.connect()
    n_keys = con.sql(
        f"SELECT count(DISTINCT n_nationkey), min(n_nationkey),"
        f" max(n_nationkey), quantile_disc(n_nationkey, 0.5),"
        f" quantile_disc(n_nationkey, 0.9)"
        f" FROM '{sf_dir}/nation.parquet'"
    ).fetchone()
    assert rows["n_nationkey"][1] == "0"  # no nulls
    assert int(rows["n_nationkey"][2]) == n_keys[0]
    assert rows["n_nationkey"][3] == str(n_keys[1])
    assert rows["n_nationkey"][4] == str(n_keys[2])
    # 25 rows < GK accuracy budget => the sketch is exact here
    assert rows["n_nationkey"][5] == str(n_keys[3])
    assert rows["n_nationkey"][6] == str(n_keys[4])
    assert rows["n_name"][5] == "" and rows["n_name"][6] == ""  # non-numeric

    assert (
        main(["profile", f"{sf_dir}/nation.parquet", "--columns", "zzz"])
        == 1
    )
    assert "not in" in capsys.readouterr().err


def test_cli_distinct_store_lifecycle(capsys, sf_dir, tmp_path):
    """distinct: two admissions accumulate lifetime n_seen, the estimate
    tracks the true cross-batch distinct count, a store-only read works
    without an input path, and lg_k drift is a clean exit-1."""
    import duckdb

    store = str(tmp_path / "hll")
    src = f"{sf_dir}/documents.parquet"
    assert main(["distinct", src, "--store", store, "--col", "lang"]) == 0
    first = capsys.readouterr().out
    assert first.startswith("admitted: estimate=")
    con = duckdb.connect()
    true_d, n_rows = con.sql(
        f"SELECT count(DISTINCT lang), count(lang) FROM '{src}'"
    ).fetchone()
    est1 = float(first.split("estimate=")[1].split(" ")[0])
    assert est1 == true_d  # tiny cardinality: HLL is exact here

    assert main(["distinct", src, "--store", store, "--col", "lang"]) == 0
    second = capsys.readouterr().out
    assert f"n_seen={2 * n_rows}" in second  # lifetime rows accumulated
    assert float(second.split("estimate=")[1].split(" ")[0]) == true_d

    assert main(["distinct", "--store", store]) == 0
    assert "lg_k=14" in capsys.readouterr().out

    assert (
        main(
            ["distinct", src, "--store", store, "--col", "lang",
             "--lg-k", "12"]
        )
        == 1
    )
    assert "lg_k=14" in capsys.readouterr().err

    assert (
        main(["distinct", src, "--store", store, "--col", "zzz"]) == 1
    )
    assert "not in" in capsys.readouterr().err


def test_cli_store_info(capsys, spark, sf_dir, tmp_path):
    """store-info: reports type/layout/parameter/lifetime for both store
    kinds, names the all-uncommitted crash state, and missing paths are
    exit-1."""
    import os
    import shutil

    hll = str(tmp_path / "hll")
    assert main(["distinct", f"{sf_dir}/documents.parquet",
                 "--store", hll, "--col", "lang"]) == 0
    capsys.readouterr()
    assert main(["store-info", hll]) == 0
    out = capsys.readouterr().out
    assert "type=hll-distinct" in out and "lg_k=14" in out
    assert "layout=versioned (current v_1)" in out

    mg = str(tmp_path / "mg")
    from movie_recommendation_etl_spark.operators.sketches import (
        update_heavy_hitter_store,
    )

    update_heavy_hitter_store(
        spark,
        mg,
        spark.createDataFrame([("a",)] * 9 + [("b",)], "k string"),
        "k",
        k=4,
        key_name="k",
    )
    assert main(["store-info", mg]) == 0
    out = capsys.readouterr().out
    assert "type=mg-heavy-hitters" in out and "k=4" in out
    assert "n_seen=10" in out

    # crash leftover: an extra uncommitted dir is counted, committed wins
    shutil.copytree(os.path.join(mg, "v_1"), os.path.join(mg, "v_7"))
    os.remove(os.path.join(mg, "v_7", "_SUCCESS"))
    assert main(["store-info", mg]) == 0
    assert "uncommitted leftover" in capsys.readouterr().out

    # ALL-uncommitted store names the crash state; missing path exits 1
    shutil.rmtree(os.path.join(mg, "v_1"))
    assert main(["store-info", mg]) == 1
    assert "NO committed version" in capsys.readouterr().err
    assert main(["store-info", str(tmp_path / "nope")]) == 1
    assert "no store at" in capsys.readouterr().err


def test_cli_profile_is_one_scan(spark, sf_dir):
    """The profile's cost contract (r12 VERDICT #5 done-criterion): all
    per-column stats INCLUDING the new p50/p90 quantiles land in a single
    aggregate over exactly one scan — a per-column job loop would show up
    as extra Scan nodes."""
    import re

    from movie_recommendation_etl_spark.cli import profile_frame

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    frame, _, numeric = profile_frame(df, df.columns)
    assert any(numeric.values())  # quantile aggs are actually in play
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 1
    assert "Exchange" in plan  # global agg still reduces distributed


def test_cli_profile_nested_map(capsys, spark, tmp_path):
    """ADVICE r12: min/max fails not only on top-level maps but on any
    type EMBEDDING a map (array<map>, struct with a map field) — profile
    must skip min/max for those columns instead of raising
    AnalysisException, while still counting nulls/distincts."""
    src = str(tmp_path / "nested_map_tbl")
    spark.sql(
        "SELECT id, array(map('k', id)) AS am,"
        " named_struct('m', map('k', id), 'x', id) AS sm"
        " FROM range(5)"
    ).write.parquet(src)
    assert main(["profile", src]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "rows\t5"
    rows = {ln.split("\t")[0]: ln.split("\t") for ln in out[2:]}
    assert rows["am"][3] == "" and rows["am"][4] == ""  # no min/max
    assert rows["sm"][3] == "" and rows["sm"][4] == ""
    assert rows["am"][1] == "0"  # nulls still profiled
    assert int(rows["am"][2]) >= 1  # distinct still profiled
    assert rows["id"][3] == "0" and rows["id"][4] == "4"  # untouched


def test_cli_profile_empty_table(capsys, spark, tmp_path):
    """Review-found edge: zero-row input must print 0 nulls and blank
    min/max, never the string 'None'."""
    src = str(tmp_path / "empty_tbl")
    spark.createDataFrame([], "a long, b string").write.parquet(src)
    assert main(["profile", src]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "rows\t0"
    assert out[2] == "a\t0\t0\t\t\t\t" and "None" not in out[2]


def test_cli_zorder_quantile_bucket(capsys, tmp_path):
    """r13 VERDICT #5 done-criterion: the CLI round-trips a q:N spec —
    exit 0, boundaries pinned in the sidecar next to the data, and a
    dense-region predicate on the skewed column prunes files that a
    div layout must read (the superiority itself is asserted in
    tests/test_zorder.py; here the CLI surface and the pinned recipe)."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.functions.zorder import (
        read_zorder_sidecar,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="test")
    src = str(tmp_path / "skewed_src")
    dest = str(tmp_path / "skewed_z")
    spark.range(0, 20_000).select(
        F.pow(
            F.lit(2.0), (F.abs(F.xxhash64("id", F.lit(1))) % 20).cast("double")
        ).cast("long").alias("v"),
        (F.abs(F.xxhash64("id", F.lit(2))) % 64).cast("int").alias("uid"),
    ).write.mode("overwrite").parquet(src)

    assert (
        main(
            [
                "zorder", src, dest,
                "--by", "v,uid",
                "--bucket", "v:q:8",
                "--bucket", "uid:div:8",
                "--num-files", "8",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "zordered table written" in out
    assert "_zorder_buckets.json" in out
    sc = read_zorder_sidecar(spark, dest)
    assert sc["bucket"]["v"] == "q:8"
    assert len(sc["boundaries"]["v"]) == 7

    # a bad q spec is an exit-1 user error, not a traceback
    assert (
        main(["zorder", src, dest, "--by", "v,uid", "--bucket", "v:q:1"])
        == 1
    )
    assert "N must be" in capsys.readouterr().err


def test_cli_store_info_admission_stores(capsys, spark, tmp_path):
    """r13 VERDICT #6: store-info covers BOTH admission store kinds —
    bytes, ids, band rows/count, partition layout, and the r14 merge
    commit state — read-only (a crashed-leftover state is reported, not
    purged or applied)."""
    import random

    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        admit_new_documents,
        admit_new_embeddings,
    )

    docs = spark.createDataFrame(
        [
            # disjoint token sets per doc: nothing is a near-dup, all admit
            (i, " ".join(f"w{(i * 29 + j) % 997}" for j in range(12)))
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    doc_store = str(tmp_path / "doc_store")
    admit_new_documents(spark, docs, doc_store)
    assert main(["store-info", doc_store]) == 0
    out = capsys.readouterr().out
    assert "type=doc-admission" in out
    assert "layout=partitioned" in out
    assert "ids=20" in out
    assert "commit=clean" in out
    assert "bytes=" in out and "n_bands=" in out

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(15)],
        "vec_id long, embedding array<double>",
    )
    emb_store = str(tmp_path / "emb_store")
    admit_new_embeddings(spark, emb, emb_store, dim=16)
    assert main(["store-info", emb_store]) == 0
    out = capsys.readouterr().out
    assert "type=embedding-admission" in out
    assert "ids=15" in out

    # crashed pre-commit leftovers: reported, never purged by store-info
    import os

    os.makedirs(f"{doc_store}/_merge_staging/s_1")
    assert main(["store-info", doc_store]) == 0
    out = capsys.readouterr().out
    assert "commit=crashed-pre-commit-leftovers" in out
    assert os.path.exists(f"{doc_store}/_merge_staging/s_1")  # read-only


def test_cli_repair_merge_crash_states(capsys, spark, tmp_path):
    """repair: applies a committed-but-unapplied merge journal, reports
    (or purges, only with --purge) pre-commit leftovers, and no-ops on a
    clean table."""
    import os

    import pytest as _pt

    from movie_recommendation_etl_spark.sources import writers
    from movie_recommendation_etl_spark.sources.writers import (
        merge_upsert_parquet,
    )

    path = str(tmp_path / "t")

    def m(rows):
        merge_upsert_parquet(
            spark,
            spark.createDataFrame(rows, "id int, v string"),
            path,
            ["id"],
        )

    m([(1, "a"), (2, "b")])
    assert main(["repair", path]) == 0
    assert "nothing to repair" in capsys.readouterr().out

    # crash AT the commit point: journal committed, apply never ran
    mp = _pt.MonkeyPatch()
    mp.setattr(
        writers,
        "_apply_merge_journal",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with _pt.raises(RuntimeError):
        m([(2, "B2"), (3, "c")])
    mp.undo()
    assert main(["repair", path]) == 0
    assert "applied; table is current" in capsys.readouterr().out
    got = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "a"), (2, "B2"), (3, "c")]

    # pre-commit leftovers: reported without --purge, removed with it
    os.makedirs(f"{path}/_merge_staging/s_9")
    assert main(["repair", path]) == 0
    assert "re-run with --purge" in capsys.readouterr().out
    assert os.path.exists(f"{path}/_merge_staging")
    assert main(["repair", path, "--purge"]) == 0
    assert "purged" in capsys.readouterr().out
    assert not os.path.exists(f"{path}/_merge_staging")

    assert main(["repair", str(tmp_path / "missing")]) == 1
    assert "no table" in capsys.readouterr().err


def test_cli_zorder_boundaries_from_pins_rewrite(capsys, spark, tmp_path):
    """--boundaries-from reuses a previous layout's pinned quantile
    boundaries: no data pre-pass, identical bucket edges in the new
    sidecar; a path without a sidecar is a clean user error."""
    import json

    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.functions.zorder import (
        read_zorder_sidecar,
    )

    src = str(tmp_path / "src")
    spark.range(0, 10_000).select(
        F.pow(
            F.lit(2.0), (F.abs(F.xxhash64("id", F.lit(1))) % 16).cast("double")
        ).cast("long").alias("v"),
        (F.abs(F.xxhash64("id", F.lit(2))) % 32).cast("int").alias("uid"),
    ).write.mode("overwrite").parquet(src)

    first = str(tmp_path / "z1")
    assert (
        main(
            [
                "zorder", src, first,
                "--by", "v,uid", "--bucket", "v:q:8",
                "--bucket", "uid:div:4", "--num-files", "4",
            ]
        )
        == 0
    )
    capsys.readouterr()
    second = str(tmp_path / "z2")
    assert (
        main(
            [
                "zorder", src, second,
                "--by", "v,uid", "--bucket", "v:q:8",
                "--bucket", "uid:div:4", "--num-files", "4",
                "--boundaries-from", first,
            ]
        )
        == 0
    )
    capsys.readouterr()
    b1 = read_zorder_sidecar(spark, first)["boundaries"]
    b2 = read_zorder_sidecar(spark, second)["boundaries"]
    assert b1 == b2

    # no sidecar at the source table -> user error
    assert (
        main(
            [
                "zorder", src, str(tmp_path / "z3"),
                "--by", "v,uid", "--bucket", "v:q:8",
                "--boundaries-from", src,
            ]
        )
        == 1
    )
    assert "no" in capsys.readouterr().err


def test_cli_neardup_pairs_and_clusters(capsys, spark, tmp_path):
    """neardup command: verified pairs + transitive clusters land as
    parquet; planted twins are recovered; bad args exit 1 with a named
    error instead of a traceback."""
    rows = []
    for i in range(6):
        text = " ".join(f"d{i}w{j}" for j in range(12))
        rows.append((i, text))
        rows.append((100 + i, text + " tail"))  # near-dup twin
    rows.append((999, "totally unrelated words only here once now"))
    src = str(tmp_path / "nd_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    pairs_out = str(tmp_path / "nd_pairs")
    clusters_out = str(tmp_path / "nd_clusters")
    survivors_out = str(tmp_path / "nd_survivors")
    assert main([
        "neardup", src, pairs_out, "--threshold", "0.7",
        "--clusters", clusters_out, "--survivors", survivors_out,
    ]) == 0
    out = capsys.readouterr().out
    assert "near-dup pairs written" in out and "clusters written" in out
    assert "survivors written" in out

    # r16: the deduped corpus — twins dropped (min id kept), singleton kept
    surv_ids = {
        r["doc_id"] for r in spark.read.parquet(survivors_out).collect()
    }
    assert surv_ids == set(range(6)) | {999}

    got_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_out).collect()
    }
    assert {(i, 100 + i) for i in range(6)} <= got_pairs
    cc = spark.read.parquet(clusters_out)
    assert set(cc.columns) == {"doc_id", "cluster_id"}
    by_doc = {r["doc_id"]: r["cluster_id"] for r in cc.collect()}
    for i in range(6):
        assert by_doc[i] == by_doc[100 + i] == i  # min-id labels
    assert 999 not in by_doc  # no pairs -> not in the cluster map

    # user errors: named message, exit 1, no traceback
    assert main(["neardup", src, pairs_out, "--threshold", "1.5"]) == 1
    assert "--threshold" in capsys.readouterr().err
    assert main(["neardup", src, pairs_out, "--max-bucket-size", "0"]) == 1
    assert "--max-bucket-size" in capsys.readouterr().err
    assert main(["neardup", src, pairs_out, "--id-col", "nope"]) == 1
    assert "nope" in capsys.readouterr().err
    assert main(
        ["neardup", src, pairs_out, "--survivors", survivors_out]
    ) == 1
    assert "--survivors requires --clusters" in capsys.readouterr().err
