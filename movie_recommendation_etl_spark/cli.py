"""Command-line entry points mirroring the reference's stage scripts.

The reference ships three argv-driven stages —
``python extract/execute.py``, ``python transform/execute.py``,
``python load/execute.py`` — plus the notebook-only ``get_recommendations``
query. This CLI exposes the same lifecycle as subcommands of one module::

    python -m movie_recommendation_etl_spark extract   <url> <dest_dir>
    python -m movie_recommendation_etl_spark transform <in_csv> <out_dir>
    python -m movie_recommendation_etl_spark load      <in_dir> --url ...
    python -m movie_recommendation_etl_spark recommend <out_dir> <movie_id>
    python -m movie_recommendation_etl_spark compact   <table_path> [--dry-run]
    python -m movie_recommendation_etl_spark trainprep <in_parquet> <out_dir>
    python -m movie_recommendation_etl_spark vector-index  <emb_parquet> <index_dir>
    python -m movie_recommendation_etl_spark vector-search <index_dir> --query-id N

Spark sizing is deliberately NOT argv (the reference threads master_ip +
four memory/core numbers through every stage, transform/execute.py:305-318):
the session factory reads SPARK_MASTER / SPARK_GRAFT_* env vars, so the same
command line runs on a laptop and against a cluster.
"""

from __future__ import annotations

import argparse
import math
import sys
from collections.abc import Sequence


def _cmd_extract(args: argparse.Namespace) -> int:
    import os

    from movie_recommendation_etl_spark.sources.extract import (
        download_file,
        extract_zip,
    )

    archive_name = os.path.basename(args.url.split("?", 1)[0]) or "archive.zip"
    archive = download_file(args.url, os.path.join(args.dest, archive_name))
    names = extract_zip(archive, args.dest, delete_archive=True)
    print("\n".join(names))
    return 0


def _cmd_transform(args: argparse.Namespace) -> int:
    from movie_recommendation_etl_spark.pipeline import run_transform
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-transform")
    vecs = run_transform(spark, args.in_csv, args.out_dir)
    print(f"vectors ready: {vecs.count()} rows -> {args.out_dir}")
    return 0


def _cmd_load(args: argparse.Namespace) -> int:
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.ddl import create_table_ddl
    from movie_recommendation_etl_spark.sources.writers import write_jdbc

    spark = get_spark(app_name="mre-load")
    for table in ("movie_metadata", "master_table"):
        df = spark.read.parquet(f"{args.in_dir}/{table}")
        if args.print_ddl:
            print(create_table_ddl(df.schema, table, primary_key="id"))
        if args.jdbc_url:
            write_jdbc(
                df,
                args.jdbc_url,
                table,
                user=args.user or "",
                password=args.password or "",
                driver=args.driver,
                num_partitions=args.num_partitions,
            )
            print(f"loaded {table}")
    return 0


def _cmd_compact(args: argparse.Namespace) -> int:
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.compact import (
        compact_parquet,
        plan_compaction,
    )

    # the inventory lists through the Hadoop FileSystem API (hdfs/s3a/file)
    # so both modes need the session
    spark = get_spark(app_name="mre-compact")
    if args.dry_run:
        plans = plan_compaction(
            spark,
            args.path,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    else:
        plans = compact_parquet(
            spark,
            args.path,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    for p in plans:
        part = (
            "/".join(f"{k}={v}" for k, v in p["partition"].items()) or "<root>"
        )
        print(
            f"{part}\t{p['n_files']} files -> {p['target_files']}"
            f"\t{p['bytes']} bytes"
        )
    if not plans:
        print("already compact")
    return 0


def _cmd_index_build(args: argparse.Namespace) -> int:
    """One-time index materialization for serving: LSH-hash the vector
    corpus and persist it (save_ann_index), so every later `recommend`
    invocation reads the index instead of re-transforming the corpus —
    at the reference's 604k docs that re-transform is ~the fit cost per
    cold start."""
    from movie_recommendation_etl_spark.ml.ann import prepare_index
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.writers import (
        load_lsh_model,
        save_ann_index,
    )

    spark = get_spark(app_name="mre-index-build")
    vecs = spark.read.parquet(f"{args.out_dir}/vector")
    model = load_lsh_model(f"{args.out_dir}/lsh_model")
    save_ann_index(prepare_index(model, vecs), f"{args.out_dir}/ann_index")
    print(f"index written: {args.out_dir}/ann_index")
    return 0


def _cmd_recommend(args: argparse.Namespace) -> int:
    from pathlib import Path

    from movie_recommendation_etl_spark.ml.ann import prepare_index, recommend
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.writers import (
        load_ann_index,
        load_lsh_model,
    )

    spark = get_spark(app_name="mre-recommend")
    model = load_lsh_model(f"{args.out_dir}/lsh_model")
    if Path(f"{args.out_dir}/ann_index").exists():
        # Persisted index (see index-build): cold start skips the
        # whole-corpus LSH re-transform, and the request runs in the
        # driver without a Spark job.
        index = load_ann_index(spark, f"{args.out_dir}/ann_index")
    else:
        vecs = spark.read.parquet(f"{args.out_dir}/vector")
        index = prepare_index(model, vecs)
    rows = recommend(
        model, index, "id", args.movie_id, top_k=args.top_k
    ).collect()
    for r in rows:
        print(f"{r['rank']}\t{r['id']}\t{r['dist']:.6f}")
    return 0


def _cmd_bpe_train(args: argparse.Namespace) -> int:
    """Train a BPE merge table on a bounded sample of a documents parquet
    and persist it (ml/bpe.py) for trainprep --tokenizer bpe-budget."""
    from movie_recommendation_etl_spark.ml.bpe import (
        save_bpe_model,
        train_bpe,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-bpe-train")
    docs = spark.read.parquet(args.in_path)
    model = train_bpe(
        docs,
        args.text_col,
        num_merges=args.num_merges,
        max_fit_rows=args.max_fit_rows,
        sample_fraction=args.sample_fraction,
    )
    save_bpe_model(spark, model, args.model_dir)
    print(f"bpe model written: {args.model_dir} ({len(model.merges)} merges)")
    return 0


def _cmd_vector_index(args: argparse.Namespace) -> int:
    """Build a persisted IVF ANN index over an (id, embedding) parquet
    table — the embedding-corpus twin of index-build (which serves the
    TF-IDF/LSH flagship). Optional candidate tiers: --sq8 stores the int8
    copy, --pq-m/--pq-ksub store product-quantization codes + codebooks
    (ml/pq.py). The cells land hive-partitioned by IVF cell, so
    vector-search's probes become static partition pruning."""
    from movie_recommendation_etl_spark.ml.ivf import (
        fit_ivf_centroids,
        save_ivf_index,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-vector-index")
    emb = spark.read.parquet(args.emb_path)
    model = fit_ivf_centroids(
        emb,
        args.vec_col,
        id_col=args.id_col,
        n_centroids=args.n_centroids,
    )
    pq = None
    if args.pq_m:
        from movie_recommendation_etl_spark.ml.pq import fit_pq

        pq = fit_pq(
            emb,
            args.vec_col,
            id_col=args.id_col,
            m=args.pq_m,
            ksub=args.pq_ksub,
        )
    save_ivf_index(
        model,
        emb,
        args.index_dir,
        array_col=args.vec_col,
        quantize=args.sq8,
        pq=pq,
    )
    tiers = ["exact"]
    if args.sq8:
        tiers.append("sq8")
    if pq is not None:
        tiers.append(f"pq(m={args.pq_m},ksub={args.pq_ksub})")
    print(
        f"ivf index written: {args.index_dir} "
        f"(cells={args.n_centroids}, tiers: {', '.join(tiers)})"
    )
    return 0


def _cmd_vector_search(args: argparse.Namespace) -> int:
    """Serve one ANN query from a vector-index directory. The query is an
    indexed row (--query-id; includes itself in the results, rank 1 at
    cosine 1.0) or an explicit JSON vector (--query-vec). --tier picks the
    candidate representation: exact (float scan), sq8 (int8 scan + exact
    re-rank), pq (ADC code scan + exact re-rank)."""
    import json as _json

    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.ml.ivf import (
        ivf_recommend,
        load_ivf_index,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-vector-search")
    centroids, cells = load_ivf_index(spark, args.index_dir)
    if args.query_vec is not None:
        q = [float(x) for x in _json.loads(args.query_vec)]
    elif args.query_id is not None:
        row = (
            cells.filter(F.col(args.id_col) == args.query_id)
            .select(args.vec_col)
            .first()
        )
        if row is None:
            print(f"id {args.query_id} not in index", file=sys.stderr)
            return 1
        q = list(row[0])
    else:
        print("need --query-id or --query-vec", file=sys.stderr)
        return 2
    # tier availability is checked HERE, not silently downgraded:
    # ivf_recommend's column probe would fall back to the exact scan and a
    # user benchmarking a tier would measure the wrong path
    pq_model = None
    if args.tier == "pq":
        from pyspark.errors import AnalysisException

        from movie_recommendation_etl_spark.ml.pq import load_pq_model

        if "pq_code" not in cells.columns:
            print(
                "index has no PQ tier (rebuild with --pq-m)",
                file=sys.stderr,
            )
            return 1
        # availability of the codebook parquet is probed by READING it,
        # not a local Path.exists() — the index may live on HDFS/S3
        try:
            pq_model = load_pq_model(spark, f"{args.index_dir}/pq")
        except AnalysisException:
            print(
                f"index has pq_code but no codebooks at "
                f"{args.index_dir}/pq (rebuild with --pq-m)",
                file=sys.stderr,
            )
            return 1
    elif args.tier == "sq8" and "qvec" not in cells.columns:
        print(
            "index has no SQ8 tier (rebuild with --sq8)", file=sys.stderr
        )
        return 1
    rows = ivf_recommend(
        centroids,
        cells,
        q,
        id_col=args.id_col,
        array_col=args.vec_col,
        top_k=args.top_k,
        n_probe=args.n_probe,
        use_quantized=args.tier == "sq8",
        pq_model=pq_model,
        rerank_factor=args.rerank_factor,
    ).collect()
    for r in rows:
        # cosine is NULL for zero-norm vectors (no defined angle) — print
        # 'null' instead of crashing the format call
        sim = (
            "null"
            if r["cosine_sim"] is None
            else f"{r['cosine_sim']:.6f}"
        )
        print(f"{r['rnk']}\t{r['neighbor_id']}\t{sim}")
    return 0


def _cmd_trainprep(args: argparse.Namespace) -> int:
    """LLM training-set preparation end-to-end: curate (rule gates,
    optionally composed with a saved model-based quality classifier) ->
    [perplexity band] -> [decontaminate] -> [substring dedup] -> chunk ->
    shuffled shards (+ manifest) -> sequence-packing map (+ manifest).
    One command from a raw documents parquet to a loader-ready corpus;
    every stage is deterministic (seeded hashes, unique total sort keys),
    so reruns are byte-identical. ``--tokenizer re`` normalizes the
    shipped chunk text itself (lowercase, [a-z0-9]-only), not just the
    token budget — see the flag's help and chunk_documents' docstring."""
    import json

    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.curate import (
        curate_documents,
    )
    from movie_recommendation_etl_spark.operators.training_prep import (
        chunk_documents,
        pack_sequences,
        write_shard_manifest,
        write_training_shards,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-trainprep")
    docs = spark.read.parquet(args.in_path)
    extra_filter = None
    if args.quality_model:
        # model-based quality gate (operators/quality_model.py): the saved
        # classifier's ~6 coefficients bake into the curation scan as a
        # Catalyst sigmoid — no MLlib transform, no Python at serve time
        from movie_recommendation_etl_spark.operators.quality_model import (
            scoring_expr,
        )
        from movie_recommendation_etl_spark.sources.writers import (
            load_logreg_model,
        )

        qm = load_logreg_model(args.quality_model)
        extra_filter = scoring_expr(qm) >= args.quality_model_tau
    curated = curate_documents(
        docs,
        langs=tuple(args.langs.split(",")) if args.langs else None,
        min_quality=args.min_quality,
        sample_fraction=args.sample_fraction,
        extra_filter=extra_filter,
    )
    base_curated = None
    if (
        args.trusted_path
        or args.eval_path
        or args.substring_dedup
        or args.neardup
    ):
        # Each optional stage below is a SELF-join (curated appears as both
        # the stage input and the semi-join/rebuild left side), so without
        # a persist the whole curation subtree re-executes once per branch
        # — measured as two full __fp dedup shuffles in the q80 plan, and
        # up to ~6 re-executions with all three stages on. Persist the
        # curated base once; freed after the shard/pack writes.
        from pyspark import StorageLevel

        curated = curated.persist(StorageLevel.MEMORY_AND_DISK)
        base_curated = curated
    if args.neardup:
        # fuzzy dedup between curation and the perplexity band — the
        # RefinedWeb/Dolma-standard stage curation's EXACT dedup cannot
        # cover (boilerplate variants, templated pages). MinHash pairs ->
        # connected components -> keep each cluster's min-id survivor
        # (operators/neardup.py:neardup_dedup; bucket guard always on).
        from movie_recommendation_etl_spark.operators.neardup import (
            neardup_dedup,
        )

        nstats: dict = {}
        curated = neardup_dedup(
            curated,
            threshold=args.neardup_threshold,
            collapse_identical=args.neardup_collapse_identical,
            checkpoint_dir=args.checkpoint_dir,
            stats=nstats,
        )
        # Surface the guard counters with the drop count (r17, VERDICT
        # r16 #7): a production run must see WHEN the bucket guard or
        # identical-collapse star fired — those paths trade exact cliques
        # for star certificates, which changes cluster granularity — not
        # re-run with logging cranked up to find out.
        guard_bits = [
            f"{nstats.get('overflow_buckets', 0)} overflow bucket(s)"
        ]
        if "max_bucket_size_seen" in nstats:
            guard_bits.append(
                f"largest bucket {nstats['max_bucket_size_seen']}"
            )
        if "max_identical_group" in nstats:
            guard_bits.append(
                f"largest identical group {nstats['max_identical_group']}"
            )
        if "multi_groups" in nstats:
            guard_bits.append(
                f"{nstats['multi_groups']} collapsed group(s)"
            )
        if "overflow_groups" in nstats:
            guard_bits.append(
                f"{nstats['overflow_groups']} star-certified group(s)"
            )
        print(
            f"neardup: dropped {nstats.get('neardup_losers', 0)} "
            f"near-duplicate doc(s) at jaccard >= {args.neardup_threshold} "
            f"({nstats.get('cc_rounds', 0)} CC round(s); "
            + ", ".join(guard_bits)
            + ")",
            file=sys.stderr,
        )
    if args.trusted_path:
        # perplexity band filter between the rule-based quality gate and
        # decontamination (operators/perplexity.py): fit a unigram model on
        # the trusted corpus, keep the lowest-cross-entropy band of the
        # curated docs (CCNet-style head/middle selection)
        from movie_recommendation_etl_spark.operators.perplexity import (
            perplexity_band,
        )

        trusted = spark.read.parquet(args.trusted_path)
        band = perplexity_band(
            curated, trusted, keep_fraction=args.perplexity_keep
        )
        curated = curated.join(
            band.select("doc_id"), "doc_id", "left_semi"
        )
    if args.eval_path:
        # benchmark decontamination before chunking: drop every curated doc
        # whose n-gram overlap with the held-out eval set clears the
        # threshold (operators/decontaminate.py; broadcast eval grams —
        # or, with --decontam-bloom-bits, a broadcast Bloom bitmap +
        # exact confirm join for eval sets too big to broadcast whole;
        # results are identical by construction)
        from movie_recommendation_etl_spark.operators.decontaminate import (
            ngram_contamination,
            ngram_contamination_bloom,
        )

        ev = spark.read.parquet(args.eval_path)
        if args.decontam_bloom_bits:
            verdicts = ngram_contamination_bloom(
                curated,
                ev,
                n=args.decontam_ngram,
                ratio_threshold=args.decontam_threshold,
                num_bits=args.decontam_bloom_bits,
            )
        else:
            verdicts = ngram_contamination(
                curated,
                ev,
                n=args.decontam_ngram,
                ratio_threshold=args.decontam_threshold,
            )
        curated = curated.join(
            verdicts.filter("NOT is_contaminated").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    if args.substring_dedup:
        # cross-document boilerplate removal (operators/substring_dedup.py):
        # rebuild each doc's text with duplicated n-gram spans dropped
        from movie_recommendation_etl_spark.operators.substring_dedup import (
            remove_duplicate_spans,
        )

        cleaned = remove_duplicate_spans(
            curated.select("doc_id", "text"), n=args.substring_ngram
        ).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        curated = curated.drop("text").join(cleaned, "doc_id")
    if args.tokenizer in ("re-budget", "bpe-budget"):
        # budget by token COST, ship the ORIGINAL text (the lossless
        # alternative to 're'): 're-budget' prices each ws token by the
        # BPE-ish regex count; 'bpe-budget' prices it by a REAL trained
        # BPE model (--bpe-model, see the bpe-train subcommand) — the
        # budget unit a trainer actually charges. --overlap-tokens here
        # is ws-token boundary context (the budget governs NEW tokens
        # only); default 0 — overlap is opt-in on the budget path, unlike
        # fixed-size chunking whose 64-token default mirrors
        # chunk_documents.
        from movie_recommendation_etl_spark.operators.training_prep import (
            chunk_documents_by_budget,
        )

        costs_array_fn = None
        if args.tokenizer == "bpe-budget":
            if not args.bpe_model:
                print(
                    "--tokenizer bpe-budget requires --bpe-model",
                    file=sys.stderr,
                )
                return 2
            from movie_recommendation_etl_spark.ml.bpe import (
                bpe_costs_array,
                load_bpe_model,
            )

            costs_array_fn = bpe_costs_array(
                load_bpe_model(spark, args.bpe_model)
            )
        chunks = chunk_documents_by_budget(
            curated,
            budget=args.chunk_tokens,
            overlap_tokens=(
                0 if args.overlap_tokens is None else args.overlap_tokens
            ),
            costs_array_fn=costs_array_fn,
        )
    else:
        tokenizer = None
        if args.tokenizer == "re":
            from movie_recommendation_etl_spark.functions.text import (
                re_tokens,
            )

            tokenizer = re_tokens
        chunks = chunk_documents(
            curated,
            chunk_tokens=args.chunk_tokens,
            overlap_tokens=(
                64 if args.overlap_tokens is None else args.overlap_tokens
            ),
            tokenizer=tokenizer,
        )
    shards_dir = f"{args.out_dir}/shards"
    # (doc_id, chunk_idx) is the unique key of chunked rows — the full
    # tiebreak makes shard files byte-identical across reruns
    write_training_shards(
        chunks,
        shards_dir,
        seed=args.seed,
        num_shards=args.num_shards,
        tiebreak_cols=("doc_id", "chunk_idx"),
    )
    shard_manifest = write_shard_manifest(
        spark, shards_dir, count_col="n_tokens",
        extra={"seed": args.seed, "chunk_tokens": args.chunk_tokens},
    )
    pack_dir = f"{args.out_dir}/pack_map"
    pack_sequences(
        spark.read.parquet(shards_dir),
        chunk_col="chunk_idx",
        seq_len=args.seq_len,
        num_shards=args.num_shards,
        seed=args.seed,
    ).write.mode("overwrite").parquet(pack_dir)
    pack_manifest = write_shard_manifest(
        spark, pack_dir, count_col="n_tokens_in_seq",
        extra={"seq_len": args.seq_len},
    )
    if base_curated is not None:
        base_curated.unpersist()
    print(
        json.dumps(
            {
                "shards": {
                    "path": shards_dir,
                    "n_rows": shard_manifest["n_rows"],
                    "n_tokens": shard_manifest["n_tokens"],
                    "n_files": shard_manifest["n_files"],
                },
                "pack_map": {
                    "path": pack_dir,
                    "n_rows": pack_manifest["n_rows"],
                    "n_tokens": pack_manifest["n_tokens"],
                },
            }
        )
    )
    return 0


def _cmd_verify_shards(args: argparse.Namespace) -> int:
    """Recompute per-file counts under a shard (or pack-map) directory and
    compare against its _MANIFEST.json — the one-command integrity check a
    training job runs before spending any gradient on the corpus. Exit 0
    on match; exit 1 with the mismatch report on any missing/extra/
    changed file."""
    import json

    from movie_recommendation_etl_spark.operators.training_prep import (
        verify_shard_manifest,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-verify-shards")
    try:
        manifest = verify_shard_manifest(spark, args.path)
    except ValueError as e:
        print(str(e))
        return 1
    print(
        json.dumps(
            {
                "path": args.path,
                "n_files": manifest["n_files"],
                "n_rows": manifest["n_rows"],
                **(
                    {"n_tokens": manifest["n_tokens"]}
                    if "n_tokens" in manifest
                    else {}
                ),
                "verified": True,
            }
        )
    )
    return 0


def _cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc Spark SQL over the catalog tables — the query surface a
    reference user reaches for first. Views register lazily (no scan until
    the statement needs one), the print path LIMITs inside the plan (the
    driver never collects more than max_rows+1), and full results go to
    parquet via --out instead of stdout."""
    from pyspark.errors import AnalysisException, ParseException

    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.catalog import (
        register_views,
    )

    spark = get_spark(app_name="mre-sql")
    register_views(spark, args.sf_dir)
    from pyspark.errors import PySparkException

    # --table name=path mounts arbitrary parquet next to the catalog
    # views — the inspection surface for trainprep shards, ANN indexes,
    # admission stores and every other artifact the pipelines write
    # (r12 VERDICT #8). Spark's native backtick syntax
    # (``parquet.`/path` ``) also works inline; the flag just names it.
    for mount in args.table or []:
        if "=" not in mount:
            print(
                f"--table {mount!r}: expected name=/path/to/parquet",
                file=sys.stderr,
            )
            return 2
        name, path = mount.split("=", 1)
        if spark.catalog.tableExists(name):
            # shadowing a catalog view silently changes query results
            # (r13 ADVICE) — say so, loudly, but allow it: mounting a
            # rewritten copy of a table IS a legitimate inspection move
            print(
                f"warning: --table {name} shadows the registered catalog "
                f"view '{name}' for this query",
                file=sys.stderr,
            )
        try:
            spark.read.parquet(path).createOrReplaceTempView(name)
        except (AnalysisException, ParseException) as exc:
            print(f"--table {name}: {exc}", file=sys.stderr)
            return 1

    stmt = sys.stdin.read() if args.query == "-" else args.query
    try:
        df = spark.sql(stmt)
    except (AnalysisException, ParseException) as exc:
        print(f"sql error: {exc}", file=sys.stderr)
        return 1
    if args.explain:
        if args.out:
            # refusing beats silently not writing: a script that checks
            # only the exit code would believe --out exists
            print("--explain and --out are mutually exclusive", file=sys.stderr)
            return 2
        # formatted physical plan — the scale-shape inspection surface
        # (PushedFilters / ReadSchema / broadcast vs shuffle) without
        # executing the query
        df.explain("formatted")
        return 0
    # runtime failures (ANSI-mode division by zero, cast errors) surface
    # at collect/write, not at spark.sql() — still user errors here
    try:
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"written: {args.out}")
            return 0
        rows = df.limit(args.max_rows + 1).collect()
    except PySparkException as exc:
        print(f"sql error: {exc}", file=sys.stderr)
        return 1
    print("\t".join(df.columns))
    for r in rows[: args.max_rows]:
        # positional lookup: r[name] silently returns the FIRST field
        # with a duplicated output name
        print(
            "\t".join(
                "null" if r[i] is None else str(r[i])
                for i in range(len(df.columns))
            )
        )
    if len(rows) > args.max_rows:
        print(
            f"... truncated at {args.max_rows} rows "
            "(use --out DIR for the full result)",
            file=sys.stderr,
        )
    return 0


def _cmd_heavy_hitters(args: argparse.Namespace) -> int:
    """Exact φ-heavy hitters over a parquet column (optionally exploded
    into word n-grams first), answered through the Misra-Gries-bounded
    path (operators/sketches.py) — the CLI face of q48."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.sketches import (
        heavy_hitters,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-heavy-hitters")
    df = spark.read.parquet(args.in_path)
    if args.col not in df.columns:
        print(
            f"column {args.col!r} not in {sorted(df.columns)}",
            file=sys.stderr,
        )
        return 1
    if args.ngrams < 0:
        print(f"--ngrams must be >= 0, got {args.ngrams}", file=sys.stderr)
        return 1
    if not 0.0 < args.phi < 1.0:
        print(f"--phi must be in (0, 1), got {args.phi}", file=sys.stderr)
        return 1
    key = F.col(args.col)
    if args.ngrams:
        from movie_recommendation_etl_spark.operators.neardup import (
            word_ngrams,
        )

        toks = F.split(key.cast("string"), " ")
        grams = (
            toks
            if args.ngrams == 1
            else word_ngrams(toks, args.ngrams, distinct=False)
        )
        df = df.select(F.explode(grams).alias("gram"))
        key = F.col("gram")
    if args.store:
        # incremental mode: fold this input into the persisted MG summary
        # (O(batch) per admission, lifetime superset guarantee) and print
        # the store's current candidates instead of exact one-shot counts
        from movie_recommendation_etl_spark.operators.sketches import (
            read_heavy_hitter_candidates,
            update_heavy_hitter_store,
        )

        k = math.ceil(1.0 / args.phi)
        stats = update_heavy_hitter_store(
            spark, args.store, df, key, k=k, key_name="key"
        )
        print(
            f"admitted: n_seen={stats['n_seen']} "
            f"candidates={stats['n_candidates']} (k={k})"
        )
        for r in (
            read_heavy_hitter_candidates(spark, args.store)
            .orderBy(F.col("__mg_est").desc(), "key")
            .collect()
        ):
            print(f"{r['key']}\t{r['__mg_est']:.0f}\t{r['n_seen']}")
        return 0
    rows = (
        heavy_hitters(
            df,
            key,
            phi=args.phi,
            key_name="key",
            remerge=args.remerge,
        )
        .orderBy(F.col("cnt").desc(), "key")
        .collect()
    )
    for r in rows:
        print(f"{r['key']}\t{r['cnt']}\t{r['n_total']}")
    return 0


def _cmd_distinct(args: argparse.Namespace) -> int:
    """Incremental distinct counting over batches: fold a parquet
    column into the persisted HLL sketch store
    (operators/sketches.py:update_distinct_store — one scan per batch,
    constant-size state, ~0.8% rsd at the default lg_k) and print the
    lifetime estimate; with no input path, just read the store."""
    from movie_recommendation_etl_spark.operators.sketches import (
        read_distinct_estimate,
        update_distinct_store,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-distinct")
    if args.in_path is None:
        try:
            got = read_distinct_estimate(spark, args.store)
        except Exception as exc:
            print(f"distinct store read failed: {exc}", file=sys.stderr)
            return 1
        print(
            f"estimate={got['estimate']:.0f} n_seen={got['n_seen']} "
            f"lg_k={got['lg_k']}"
        )
        return 0
    df = spark.read.parquet(args.in_path)
    if args.col not in df.columns:
        print(
            f"column {args.col!r} not in {sorted(df.columns)}",
            file=sys.stderr,
        )
        return 1
    try:
        stats = update_distinct_store(
            spark, args.store, df, args.col, lg_k=args.lg_k
        )
    except ValueError as exc:  # lg_k drift against the stored sketch
        print(f"distinct error: {exc}", file=sys.stderr)
        return 1
    print(f"admitted: estimate={stats['estimate']:.0f} n_seen={stats['n_seen']}")
    return 0


def _admission_store_info(spark, path: str, df) -> int:
    """store-info for the doc/embedding SIGNATURE stores (q74/q75,
    operators/incremental_dedup.py — r13 VERDICT #6: they were the ops
    surface's blind spot): store bytes, admitted ids, band rows / LSH
    band count, partition layout (band_pfx dirs vs legacy-flat), and the
    r14 merge-commit state. Read-only — a pending committed merge is
    REPORTED, not applied (the figures then describe the pre-merge state;
    the next admission/read applies it). The id/band aggregate scans the
    store once — O(store), which is ~3 orders below the corpus by
    construction."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        _store_bytes,
    )
    from movie_recommendation_etl_spark.sources.writers import (
        _MERGE_JOURNAL_DIR,
        _MERGE_STAGING_DIR,
        _hadoop_fs,
        _latest_journal,
    )

    cols = set(df.columns)
    key = "doc_id" if "doc_id" in cols else "vec_id"
    kind = "doc-admission" if key == "doc_id" else "embedding-admission"
    jvm, fs, root = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    partitioned = "band_pfx" in cols
    if partitioned:
        n_parts = sum(
            1
            for st in fs.listStatus(root)
            if st.isDirectory()
            and st.getPath().getName().startswith("band_pfx=")
        )
        layout = f"partitioned ({n_parts} band_pfx dirs)"
    else:
        layout = "legacy-flat (rewrite/compact to gain pruned probes)"
    agg = df.agg(
        F.countDistinct(key).alias("ids"),
        F.countDistinct("band_idx").alias("n_bands"),
        F.count("*").alias("band_rows"),
    ).first()
    has_j = fs.exists(P(root, _MERGE_JOURNAL_DIR))
    has_s = fs.exists(P(root, _MERGE_STAGING_DIR))
    if not has_j and not has_s:
        commit = "clean"
    elif _latest_journal(spark, path)[0] is not None:
        commit = (
            "pending-committed-merge (auto-applies on the next "
            "admission/read; figures above are the PRE-merge state)"
        )
    else:
        commit = (
            "crashed-pre-commit-leftovers (table state intact; the next "
            "admission purges them)"
        )
    print(
        f"type={kind} layout={layout} ids={agg['ids']} "
        f"band_rows={agg['band_rows']} n_bands={agg['n_bands']} "
        f"bytes={_store_bytes(spark, path)} commit={commit}"
    )
    return 0


def _cmd_store_info(args: argparse.Namespace) -> int:
    """Inspect a persisted incremental store: the sketch stores (MG
    heavy-hitter / HLL distinct — commit state of the versioned protocol,
    the pinned parameter k / lg_k, lifetime rows, summary size) and the
    doc/embedding admission stores (_admission_store_info). Read-only:
    never mutates the store."""
    from movie_recommendation_etl_spark.operators.sketches import (
        _latest_store_version,
    )
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-store-info")
    vpath, vn, max_n = _latest_store_version(spark, args.store)
    if vpath is None and max_n == 0:
        # no version dirs: legacy flat store or missing path
        try:
            df = spark.read.parquet(args.store)
            layout = "legacy-flat"
        except Exception:
            print(f"no store at {args.store}", file=sys.stderr)
            return 1
    elif vpath is None:
        print(
            f"store at {args.store}: NO committed version "
            f"({max_n} uncommitted dir(s) — crashed writes; re-run the "
            "admission to rebuild)",
            file=sys.stderr,
        )
        return 1
    else:
        df = spark.read.parquet(vpath)
        layout = f"versioned (current v_{vn}"
        layout += (
            f", {max_n - vn} uncommitted leftover(s))"
            if max_n > vn
            else ")"
        )
    cols = set(df.columns)
    if {"band_idx", "band_val"} <= cols and ("sig" in cols or "qvec" in cols):
        # doc (MinHash sig) / embedding (int8 qvec) admission stores
        return _admission_store_info(spark, args.store, df)
    if "sketch" in cols:  # HLL distinct store
        from pyspark.sql import functions as F

        row = df.select(
            F.hll_sketch_estimate("sketch").alias("est"), "n_seen", "lg_k"
        ).first()
        est = 0.0 if row["est"] is None else float(row["est"])
        print(
            f"type=hll-distinct layout={layout} lg_k={row['lg_k']} "
            f"n_seen={row['n_seen']} estimate={est:.0f}"
        )
        return 0
    if "__mg_k" in cols:  # MG heavy-hitter store
        rows = df.collect()  # bounded: <= k+1 rows by the store contract
        meta = rows[0]
        n_cand = sum(1 for r in rows if r[df.columns[0]] is not None)
        print(
            f"type=mg-heavy-hitters layout={layout} k={meta['__mg_k']} "
            f"n_seen={meta['n_seen']} candidates={n_cand}"
        )
        return 0
    print(
        f"unrecognized store schema at {args.store}: {sorted(cols)}",
        file=sys.stderr,
    )
    return 1


def _cmd_repair(args: argparse.Namespace) -> int:
    """Explicit crash recovery for the staged merge protocol
    (sources/writers.recover_pending_merge): apply a COMMITTED journal a
    crash left unapplied (the same replay the read/merge/compact paths
    run automatically), and report — or with ``--purge`` remove —
    pre-commit leftovers. The read-only twin of what store-info REPORTS."""
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.writers import (
        _MERGE_JOURNAL_DIR,
        _MERGE_STAGING_DIR,
        _hadoop_fs,
        recover_pending_merge,
    )

    spark = get_spark(app_name="mre-repair")
    jvm, fs, root = _hadoop_fs(spark, args.path)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(root):
        print(f"no table at {args.path}", file=sys.stderr)
        return 1
    had_leftovers = fs.exists(P(root, _MERGE_JOURNAL_DIR)) or fs.exists(
        P(root, _MERGE_STAGING_DIR)
    )
    applied = recover_pending_merge(spark, args.path, purge=args.purge)
    if applied:
        print("pending committed merge applied; table is current")
        return 0
    if had_leftovers and args.purge:
        print("pre-commit crash leftovers purged; table state was intact")
        return 0
    if had_leftovers:
        print(
            "pre-commit crash leftovers present (table state is intact); "
            "re-run with --purge to remove them, or let the next merge "
            "do it"
        )
        return 0
    print("nothing to repair: no pending merge, no leftovers")
    return 0


def _cmd_zorder(args: argparse.Namespace) -> int:
    """Rewrite a parquet table clustered on the Morton interleave of >= 2
    int columns (functions/zorder.py) — the OPTIMIZE ... ZORDER BY shape:
    afterwards min/max footer pruning works for predicates on ANY of the
    interleaved columns, not just the leading sort key."""
    from pyspark.errors import PySparkException

    from movie_recommendation_etl_spark.functions.zorder import (
        write_zordered_parquet,
    )
    from movie_recommendation_etl_spark.session import get_spark

    cols = [c for c in args.by.split(",") if c]
    if len(cols) < 2:
        print("--by needs >= 2 comma-separated columns", file=sys.stderr)
        return 1
    bucket: dict[str, str] = {}
    for spec in args.bucket or []:
        if ":" not in spec:
            print(
                f"--bucket {spec!r}: expected col:days|hours|div:N|mod:N|q:N",
                file=sys.stderr,
            )
            return 1
        col, transform = spec.split(":", 1)
        bucket[col] = transform
        if transform.startswith("mod:"):
            # mod is not monotone: the raw column's per-file footer range
            # stays wide, so pruning on that column is sacrificed (see
            # functions/zorder.bucketize) — legal, but say so
            print(
                f"note: mod bucketing on {col} sacrifices footer pruning "
                "on the raw column (use div:N for a prunable layout)",
                file=sys.stderr,
            )
    spark = get_spark(app_name="mre-zorder")
    df = spark.read.parquet(args.in_path)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        print(
            f"columns {missing} not in {sorted(df.columns)}",
            file=sys.stderr,
        )
        return 1
    pinned = None
    if args.boundaries_from:
        from movie_recommendation_etl_spark.functions.zorder import (
            read_zorder_sidecar,
        )

        sidecar = read_zorder_sidecar(spark, args.boundaries_from)
        if sidecar is None:
            print(
                f"--boundaries-from {args.boundaries_from}: no "
                "_zorder_buckets.json sidecar there (only q:N layouts "
                "pin boundaries)",
                file=sys.stderr,
            )
            return 1
        pinned = sidecar["boundaries"]
    try:
        write_zordered_parquet(
            df,
            args.out_path,
            cols,
            num_files=args.num_files,
            bits=args.bits,
            bucket=bucket,
            pinned_boundaries=pinned,
        )
    except (ValueError, PySparkException) as exc:
        # out-of-range values (morton_key raise_error) / bad bits budget /
        # bad bucket spec
        print(f"zorder error: {exc}", file=sys.stderr)
        return 1
    print(f"zordered table written: {args.out_path} (by {','.join(cols)})")
    if any(s.startswith("q:") for s in bucket.values()):
        # quantile boundaries are data-dependent; the pinned recipe makes
        # the layout reproducible (functions/zorder.read_zorder_sidecar)
        from movie_recommendation_etl_spark.functions.zorder import (
            ZORDER_SIDECAR,
        )

        print(
            f"quantile bucket boundaries pinned: "
            f"{args.out_path}/{ZORDER_SIDECAR}"
        )
    return 0


def _profile_orderable(dt) -> bool:
    """Whether min/max is legal on this type: MapType anywhere in the
    type tree (top-level, array element, struct field, map value) makes
    the whole column unorderable for Spark's ordering."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _profile_orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_profile_orderable(f.dataType) for f in dt.fields)
    return True


def profile_frame(df, cols: list[str]):
    """The profile's ONE aggregate: per column its non-null count, HLL
    distinct estimate (q44-gated sketch, rsd 2%), min/max (orderable
    types), and p50/p90 (numeric types, the q39-gated GK sketch) — a
    single 1-row frame over one scan, so profiling a 100 TB table costs
    one pass, never a per-column job loop (one-scan plan shape asserted
    in tests/test_cli.py). Returns (frame, orderable map, numeric map)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    # min/max are valid on arrays/structs too — unless a map hides
    # ANYWHERE in the type tree (array<map<..>>, struct with a map field)
    orderable = {c: _profile_orderable(df.schema[c].dataType) for c in cols}
    numeric = {
        c: isinstance(df.schema[c].dataType, NumericType) for c in cols
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        # nulls = rows - count(col): count already skips nulls, and this
        # stays 0 (not NULL) on an empty table where sum() would
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.approx_count_distinct(c, 0.02).alias(f"__dist_{c}"))
        if orderable[c]:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
        if numeric[c]:
            aggs.append(
                F.percentile_approx(
                    c, F.array(F.lit(0.5), F.lit(0.9))
                ).alias(f"__pct_{c}")
            )
    return df.agg(*aggs), orderable, numeric


def _cmd_profile(args: argparse.Namespace) -> int:
    """One-pass table profile — see profile_frame for the aggregate and
    the one-scan cost argument; this command only parses, prints, and
    maps user errors to exit 1."""
    from movie_recommendation_etl_spark.session import get_spark

    spark = get_spark(app_name="mre-profile")
    df = spark.read.parquet(args.in_path)
    cols = args.columns.split(",") if args.columns else df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        print(
            f"columns {missing} not in {sorted(df.columns)}",
            file=sys.stderr,
        )
        return 1
    frame, orderable, numeric = profile_frame(df, cols)
    row = frame.first()
    n = row["__n"]
    print(f"rows\t{n}")
    print("column\tnulls\tapprox_distinct\tmin\tmax\tp50\tp90")

    def _fmt(v) -> str:
        return "" if v is None else str(v)

    for c in cols:
        mn = _fmt(row[f"__min_{c}"]) if orderable[c] else ""
        mx = _fmt(row[f"__max_{c}"]) if orderable[c] else ""
        pct = row[f"__pct_{c}"] if numeric[c] else None
        p50 = _fmt(pct[0]) if pct else ""
        p90 = _fmt(pct[1]) if pct else ""
        print(
            f"{c}\t{n - row[f'__nn_{c}']}\t{row[f'__dist_{c}']}"
            f"\t{mn}\t{mx}\t{p50}\t{p90}"
        )
    return 0


def _cmd_admit(args: argparse.Namespace) -> int:
    """Incremental fuzzy-dedup admission from the command line: admit the
    batch at in_path against the persisted signature store (docs: MinHash
    bands; embeddings: SRP bands + int8 signatures), write the admitted
    rows to out_path, and merge their signatures into the store — the
    one-command form of the q74/q75 ingestion contract
    (operators/incremental_dedup.py; replays of the same ids converge
    idempotently). For continuous ingestion use the streaming tiers
    (streaming/incremental.py)."""
    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        admit_new_documents,
        admit_new_embeddings,
    )
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.writers import write_parquet

    if args.kind == "embeddings" and args.dim is None:
        print("--kind embeddings requires --dim", file=sys.stderr)
        return 1
    spark = get_spark(app_name="mre-admit")
    batch = spark.read.parquet(args.in_path)
    if args.id_col is None:
        args.id_col = "doc_id" if args.kind == "docs" else "vec_id"
    need = (
        (args.id_col, args.text_col)
        if args.kind == "docs"
        else (args.id_col, args.vec_col)
    )
    missing = [c for c in need if c not in batch.columns]
    if missing:
        print(
            f"columns {missing} not in {sorted(batch.columns)}",
            file=sys.stderr,
        )
        return 1
    n_in = batch.count()
    if args.kind == "docs":
        admitted = admit_new_documents(
            spark,
            batch,
            args.store_path,
            id_col=args.id_col,
            text_col=args.text_col,
            sim_threshold=(
                0.7 if args.threshold is None else args.threshold
            ),
            checkpoint_dir=args.checkpoint_dir,
            max_bucket_candidates=args.max_bucket_candidates,
        )
    else:
        admitted = admit_new_embeddings(
            spark,
            batch,
            args.store_path,
            id_col=args.id_col,
            vec_col=args.vec_col,
            dim=args.dim,
            cos_threshold=(
                0.92 if args.threshold is None else args.threshold
            ),
            checkpoint_dir=args.checkpoint_dir,
            max_bucket_candidates=args.max_bucket_candidates,
        )
    write_parquet(admitted, args.out_path)
    n_out = spark.read.parquet(args.out_path).count()
    print(
        f"admitted {n_out} of {n_in} rows -> {args.out_path} "
        f"({n_in - n_out} near-duplicate(s) rejected against "
        f"{args.store_path})"
    )
    return 0


def _cmd_dedup(args: argparse.Namespace) -> int:
    """Exact content dedup over a parquet document table: normalized md5
    fingerprint (lowercase, non-alphanumerics collapsed) -> keep the
    min-id row per fingerprint via the map-side-combinable min_by survivor
    pick (operators/dedup.py — no per-key window, so a viral identical
    document stays distributed). The standalone twin of the dedup stage
    trainprep's curation runs; `neardup` covers the fuzzy complement."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.dedup import (
        dedup_keep_first,
        fingerprint,
    )
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.writers import write_parquet

    spark = get_spark(app_name="mre-dedup")
    df = spark.read.parquet(args.in_path)
    missing = [c for c in (args.id_col, args.text_col) if c not in df.columns]
    if missing:
        print(
            f"columns {missing} not in {sorted(df.columns)}", file=sys.stderr
        )
        return 1
    n_in = df.count()
    surv = dedup_keep_first(
        df.withColumn("__fp", fingerprint(F.col(args.text_col))),
        ["__fp"],
        [F.col(args.id_col)],
    ).drop("__fp")
    write_parquet(surv, args.out_path)
    n_out = spark.read.parquet(args.out_path).count()
    print(
        f"deduped corpus written: {args.out_path} "
        f"({n_out} of {n_in} docs kept, {n_in - n_out} exact dup(s) dropped)"
    )
    return 0


def _cmd_decontam(args: argparse.Namespace) -> int:
    """Benchmark decontamination as a standalone command: per-training-doc
    n-gram overlap against a held-out eval table -> verdicts parquet
    (doc, n_grams, n_overlap, overlap_ratio, is_contaminated), optional
    --clean-out for the decontaminated corpus itself. --bloom-bits
    switches to the Bloom tier (broadcast bitmap + exact confirm join —
    identical verdicts by construction) for eval sets too big to
    broadcast as an exact gram set. The same operators trainprep's
    --eval-path stage composes (operators/decontaminate.py)."""
    from movie_recommendation_etl_spark.operators.decontaminate import (
        ngram_contamination,
        ngram_contamination_bloom,
    )
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.writers import write_parquet

    if not (0.0 < args.threshold <= 1.0):
        print(
            f"--threshold {args.threshold}: must be in (0, 1]",
            file=sys.stderr,
        )
        return 1
    if args.ngram < 1:
        print("--ngram must be >= 1", file=sys.stderr)
        return 1
    spark = get_spark(app_name="mre-decontam")
    train = spark.read.parquet(args.train_path)
    ev = spark.read.parquet(args.eval_path)
    for side, frame in (("train", train), ("eval", ev)):
        missing = [
            c for c in (args.id_col, args.text_col) if c not in frame.columns
        ]
        if missing:
            print(
                f"{side} table: columns {missing} not in "
                f"{sorted(frame.columns)}",
                file=sys.stderr,
            )
            return 1
    kwargs = dict(
        id_col=args.id_col,
        text_col=args.text_col,
        n=args.ngram,
        ratio_threshold=args.threshold,
    )
    if args.bloom_bits:
        verdicts = ngram_contamination_bloom(
            train, ev, num_bits=args.bloom_bits, **kwargs
        )
    else:
        verdicts = ngram_contamination(train, ev, **kwargs)
    write_parquet(verdicts, args.out_path)
    verdicts = spark.read.parquet(args.out_path)
    n_total = verdicts.count()
    n_bad = verdicts.filter("is_contaminated").count()
    print(
        f"contamination verdicts written: {args.out_path} "
        f"({n_bad} of {n_total} training docs at >= {args.threshold} "
        f"{args.ngram}-gram overlap)"
    )
    if args.clean_out:
        clean = train.join(
            verdicts.filter("NOT is_contaminated").select(args.id_col),
            args.id_col,
            "left_semi",
        )
        write_parquet(clean, args.clean_out)
        print(
            f"decontaminated corpus written: {args.clean_out} "
            f"({n_total - n_bad} docs)"
        )
    return 0


def _cmd_neardup(args: argparse.Namespace) -> int:
    """MinHash-LSH near-duplicate detection over a parquet document table:
    writes verified (doc_a, doc_b, jaccard) pairs, optionally resolves
    transitive clusters (connected components). Candidate generation is
    bucket-guarded — oversized near-identical band buckets star-join under
    a logged cap — and identical-content collapse is available via
    --collapse-identical; see operators/neardup.py for the scale
    contract. This command only parses, validates, prints, and maps user
    errors to exit 1."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.graph import (
        connected_components,
    )
    from movie_recommendation_etl_spark.operators.neardup import (
        minhash_neardup_pairs,
    )
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.writers import write_parquet

    if not (0.0 < args.threshold <= 1.0):
        print(
            f"--threshold {args.threshold}: must be in (0, 1]",
            file=sys.stderr,
        )
        return 1
    if min(args.k, args.num_hashes, args.rows_per_band) < 1:
        print(
            "--k / --num-hashes / --rows-per-band must be >= 1",
            file=sys.stderr,
        )
        return 1
    if args.survivors and not args.clusters:
        print("--survivors requires --clusters", file=sys.stderr)
        return 1
    spark = get_spark(app_name="mre-neardup")
    df = spark.read.parquet(args.in_path)
    missing = [c for c in (args.id_col, args.text_col) if c not in df.columns]
    if missing:
        print(
            f"columns {missing} not in {sorted(df.columns)}", file=sys.stderr
        )
        return 1
    stats: dict = {}
    pairs = minhash_neardup_pairs(
        df,
        args.id_col,
        args.text_col,
        k=args.k,
        num_hashes=args.num_hashes,
        rows_per_band=args.rows_per_band,
        threshold=args.threshold,
        max_bucket_size=args.max_bucket_size,
        group_clique_cap=args.group_clique_cap,
        collapse_identical=args.collapse_identical,
        checkpoint_dir=args.checkpoint_dir,
        stats=stats,
    )
    write_parquet(pairs, args.out_path)
    n_pairs = pairs.count()  # cheap: the operator checkpoints its result
    print(
        f"near-dup pairs written: {args.out_path} "
        f"({n_pairs} pairs at jaccard >= {args.threshold})"
    )
    if stats.get("overflow_buckets"):
        print(
            f"note: {stats['overflow_buckets']} band bucket(s) exceeded "
            f"--max-bucket-size {args.max_bucket_size} (largest "
            f"{stats['max_bucket_size_seen']} rows) — their pairs are "
            "min-id star certificates: duplicates of each bucket's rep stay "
            "in one cluster, but member pairs not connected through the rep "
            "can lose their edge after Jaccard verification and fragment"
        )
    if stats.get("overflow_groups"):
        print(
            f"note: {stats['overflow_groups']} identical-content group(s) "
            f"exceeded --group-clique-cap {args.group_clique_cap} — "
            "rep->member stars emitted instead of the full clique"
        )
    if args.clusters:
        cstats: dict = {}
        cc = connected_components(
            pairs.select("doc_a", "doc_b"),
            "doc_a",
            "doc_b",
            checkpoint_dir=args.checkpoint_dir,
            stats=cstats,
        )
        out = cc.select(F.col("node").alias(args.id_col), "cluster_id")
        write_parquet(out, args.clusters)
        n_docs = cc.count()
        n_clusters = cc.select("cluster_id").distinct().count()
        cc_how = (
            f"small-graph fast path, {cstats['fast_path_edges']} edges"
            if "fast_path_edges" in cstats
            else f"{cstats.get('rounds')} propagation rounds"
        )
        print(
            f"clusters written: {args.clusters} ({n_docs} docs in "
            f"{n_clusters} clusters, {cc_how})"
        )
        if args.survivors:
            # the deduped corpus itself: drop every cluster member except
            # its min id (the trainprep --neardup survivor rule,
            # operators/neardup.py:neardup_dedup), reusing the clusters
            # just resolved instead of re-running pairs+CC
            losers = cc.filter(F.col("node") != F.col("cluster_id")).select(
                F.col("node").alias(args.id_col)
            )
            surv = df.join(losers, args.id_col, "left_anti")
            write_parquet(surv, args.survivors)
            n_dropped = n_docs - n_clusters
            print(
                f"survivors written: {args.survivors} "
                f"({n_dropped} near-duplicate doc(s) dropped)"
            )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="movie_recommendation_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pr = sub.add_parser(
        "profile",
        help="one-pass column profile (nulls, approx distinct, min/max, "
        "p50/p90)",
    )
    pr.add_argument("in_path")
    pr.add_argument(
        "--columns", default=None, help="comma-separated subset (default all)"
    )
    pr.set_defaults(fn=_cmd_profile)

    ad = sub.add_parser(
        "admit",
        help="admit a parquet batch against a persisted fuzzy-dedup "
        "signature store (docs: MinHash; embeddings: SRP) — write the "
        "admitted rows, merge their signatures",
    )
    ad.add_argument("in_path")
    ad.add_argument("store_path")
    ad.add_argument("out_path")
    ad.add_argument(
        "--kind", choices=("docs", "embeddings"), default="docs"
    )
    ad.add_argument("--id-col", default=None)
    ad.add_argument("--text-col", default="text")
    ad.add_argument("--vec-col", default="embedding")
    ad.add_argument(
        "--dim", type=int, default=None,
        help="embedding dimension (required for --kind embeddings)",
    )
    ad.add_argument(
        "--threshold", type=float, default=None,
        help="similarity threshold (default: 0.7 jaccard-estimate for "
        "docs, 0.92 quantized cosine for embeddings)",
    )
    ad.add_argument("--max-bucket-candidates", type=int, default=None)
    ad.add_argument(
        "--checkpoint-dir", default=None,
        help="reliable checkpoint dir (HDFS/S3) for long jobs",
    )
    ad.set_defaults(fn=_cmd_admit)

    dd = sub.add_parser(
        "dedup",
        help="exact content dedup (normalized md5 fingerprint, min-id "
        "survivor) over a parquet document table",
    )
    dd.add_argument("in_path")
    dd.add_argument("out_path")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.set_defaults(fn=_cmd_dedup)

    dc = sub.add_parser(
        "decontam",
        help="n-gram benchmark decontamination verdicts (+ optional "
        "cleaned corpus) for a training table vs a held-out eval table",
    )
    dc.add_argument("train_path")
    dc.add_argument("eval_path")
    dc.add_argument("out_path")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--ngram", type=int, default=5)
    dc.add_argument(
        "--threshold", type=float, default=0.05,
        help="overlap ratio in (0, 1] at/above which a doc is contaminated",
    )
    dc.add_argument(
        "--bloom-bits", type=int, default=0,
        help="use the Bloom tier with this many bitmap bits (multiple of "
        "64; 0 = broadcast the exact gram set). Identical verdicts",
    )
    dc.add_argument(
        "--clean-out", default=None, metavar="OUT_PATH",
        help="also write the decontaminated training corpus here",
    )
    dc.set_defaults(fn=_cmd_decontam)

    nd = sub.add_parser(
        "neardup",
        help="MinHash-LSH near-duplicate pairs (+ optional transitive "
        "clusters) over a parquet document table",
    )
    nd.add_argument("in_path")
    nd.add_argument("out_path")
    nd.add_argument("--id-col", default="doc_id")
    nd.add_argument("--text-col", default="text")
    nd.add_argument("--k", type=int, default=3, help="words per shingle")
    nd.add_argument("--num-hashes", type=int, default=12)
    nd.add_argument("--rows-per-band", type=int, default=3)
    nd.add_argument(
        "--threshold", type=float, default=0.8,
        help="exact-Jaccard verify threshold in (0, 1]",
    )
    nd.add_argument(
        "--max-bucket-size", type=int, default=2000,
        help="band buckets above this star-join against their min id "
        "under a logged guard (bounds near-identical clusters); buckets "
        "below it emit their exact cliques",
    )
    nd.add_argument("--group-clique-cap", type=int, default=64)
    nd.add_argument(
        "--collapse-identical", action="store_true",
        help="band one representative per identical-shingle-set group "
        "(opt-in: pays ~3 extra narrow stages; for identical-heavy "
        "corpora that have not been exact-deduped upstream)",
    )
    nd.add_argument(
        "--clusters", default=None, metavar="OUT_PATH",
        help="also resolve transitive clusters (connected components) "
        "into this parquet path as (id, cluster_id)",
    )
    nd.add_argument(
        "--survivors", default=None, metavar="OUT_PATH",
        help="also write the DEDUPED corpus (every cluster member except "
        "its min id dropped — the trainprep --neardup survivor rule) to "
        "this parquet path; requires --clusters",
    )
    nd.add_argument(
        "--checkpoint-dir", default=None,
        help="reliable checkpoint dir (HDFS/S3) for long jobs",
    )
    nd.set_defaults(fn=_cmd_neardup)

    zo = sub.add_parser(
        "zorder",
        help="rewrite a parquet table z-ordered on >= 2 int columns",
    )
    zo.add_argument("in_path")
    zo.add_argument("out_path")
    zo.add_argument(
        "--by", required=True, help="comma-separated int columns"
    )
    zo.add_argument("--num-files", type=int, default=None)
    zo.add_argument(
        "--bits", type=int, default=None,
        help="per-column bit budget (default: auto, <= 21)",
    )
    zo.add_argument(
        "--bucket", action="append", default=None, metavar="COL:SPEC",
        help="bucket a raw column for the key only (repeatable): "
        "col:days, col:hours, col:div:N (monotone — keeps footer "
        "pruning), col:mod:N (balance only — sacrifices pruning on col), "
        "col:q:N (equal-population quantile buckets for skewed columns; "
        "monotone, boundaries from one percentile_approx pre-pass — or, "
        "for STRING columns, a counting-guided sample sort — pinned in a "
        "_zorder_buckets.json sidecar for reproducibility)",
    )
    zo.add_argument(
        "--boundaries-from", default=None, metavar="TABLE_PATH",
        help="reuse the pinned q:N quantile boundaries from an existing "
        "z-ordered table's _zorder_buckets.json sidecar (reproducible "
        "rewrite: no data pre-pass, identical bucket edges)",
    )
    zo.set_defaults(fn=_cmd_zorder)

    rp = sub.add_parser(
        "repair",
        help="apply a crash-interrupted merge commit on a parquet table "
        "(committed journal -> replay; pre-commit leftovers -> report, "
        "or purge with --purge)",
    )
    rp.add_argument("path")
    rp.add_argument(
        "--purge", action="store_true",
        help="also remove PRE-commit crash leftovers (_merge_staging / "
        "uncommitted journals). Only safe when no merge writer is live — "
        "the merge path owns the single-writer lock and purges these "
        "itself on its next run",
    )
    rp.set_defaults(fn=_cmd_repair)

    hh = sub.add_parser(
        "heavy-hitters",
        help="exact phi-heavy hitters over a parquet column "
        "(Misra-Gries-bounded)",
    )
    hh.add_argument("in_path")
    hh.add_argument("--col", required=True)
    hh.add_argument("--phi", type=float, default=0.001)
    hh.add_argument(
        "--ngrams",
        type=int,
        default=0,
        help="explode the column into word n-grams first (0 = use values "
        "as-is)",
    )
    hh.add_argument(
        "--remerge",
        action="store_true",
        help="re-merge per-partition summaries to <= k candidates total "
        "(bounded broadcast for wide scans)",
    )
    hh.add_argument(
        "--store",
        default=None,
        help="incremental mode: fold this input into the persisted MG "
        "summary at DIR and print its current candidates (no exact "
        "counts; run without --store over the corpus to confirm)",
    )
    hh.set_defaults(fn=_cmd_heavy_hitters)

    di = sub.add_parser(
        "distinct",
        help="incremental distinct count via a persisted HLL sketch "
        "store (constant-size state, ~0.8%% rsd)",
    )
    di.add_argument(
        "in_path", nargs="?", default=None,
        help="parquet batch to admit (omit to just read the store)",
    )
    di.add_argument("--store", required=True)
    di.add_argument("--col", default="key")
    di.add_argument(
        "--lg-k", type=int, default=14, dest="lg_k",
        help="sketch precision (registers = 2^lg_k); pinned at first "
        "admission, drift rejected",
    )
    di.set_defaults(fn=_cmd_distinct)

    si = sub.add_parser(
        "store-info",
        help="inspect a persisted sketch store (commit state, pinned "
        "parameter, lifetime rows) — read-only",
    )
    si.add_argument("store")
    si.set_defaults(fn=_cmd_store_info)

    sq = sub.add_parser(
        "sql", help="ad-hoc Spark SQL over the catalog tables"
    )
    sq.add_argument("sf_dir", help="directory holding the catalog parquet")
    sq.add_argument("query", help="SQL text, or '-' to read from stdin")
    sq.add_argument("--max-rows", type=int, default=100)
    sq.add_argument(
        "--out",
        default=None,
        help="write the FULL result as parquet instead of printing",
    )
    sq.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of executing",
    )
    sq.add_argument(
        "--table", action="append", default=None, metavar="NAME=PATH",
        help="mount extra parquet as a view (repeatable) — e.g. shard or "
        "index outputs; Spark's parquet.`/path` backtick syntax also "
        "works inline",
    )
    sq.set_defaults(fn=_cmd_sql)

    ex = sub.add_parser("extract", help="download + unzip a source archive")
    ex.add_argument("url")
    ex.add_argument("dest")
    ex.set_defaults(fn=_cmd_extract)

    tr = sub.add_parser("transform", help="CSV -> clean -> TF-IDF -> LSH -> sinks")
    tr.add_argument("in_csv")
    tr.add_argument("out_dir")
    tr.set_defaults(fn=_cmd_transform)

    ld = sub.add_parser("load", help="staged parquet -> JDBC database")
    ld.add_argument("in_dir")
    ld.add_argument("--jdbc-url", default=None)
    ld.add_argument("--user", default=None)
    ld.add_argument("--password", default=None)
    ld.add_argument("--driver", default="org.postgresql.Driver")
    ld.add_argument("--num-partitions", type=int, default=8)
    ld.add_argument(
        "--print-ddl",
        action="store_true",
        help="print CREATE TABLE statements derived from the parquet schema",
    )
    ld.set_defaults(fn=_cmd_load)

    co = sub.add_parser(
        "compact", help="rewrite fragmented partitions into target-size files"
    )
    co.add_argument("path")
    co.add_argument("--target-file-mb", type=int, default=256)
    co.add_argument(
        "--dry-run",
        action="store_true",
        help="print the compaction plan without rewriting anything",
    )
    co.set_defaults(fn=_cmd_compact)

    tp = sub.add_parser(
        "trainprep",
        help="documents parquet -> curate -> chunk -> shards + packing map",
    )
    tp.add_argument("in_path")
    tp.add_argument("out_dir")
    tp.add_argument("--langs", default="en", help="comma list; empty = all")
    tp.add_argument(
        "--eval-path",
        default=None,
        help="parquet of held-out eval docs; curated docs overlapping them "
        "by n-grams are dropped before chunking",
    )
    tp.add_argument("--decontam-ngram", type=int, default=5)
    tp.add_argument("--decontam-threshold", type=float, default=0.05)
    tp.add_argument(
        "--decontam-bloom-bits",
        type=int,
        default=0,
        help="use the Bloom decontamination tier with this many bitmap "
        "bits (multiple of 64; 0 = broadcast the exact gram set). Same "
        "verdicts either way; bloom shuffles only candidate grams",
    )
    tp.add_argument(
        "--neardup",
        action="store_true",
        help="fuzzy-dedup surviving docs after curation: MinHash-LSH "
        "pairs -> connected components -> keep each near-dup cluster's "
        "min-id doc (the RefinedWeb/Dolma-standard stage; exact dedup "
        "inside curation only catches byte-identical content)",
    )
    tp.add_argument(
        "--neardup-threshold",
        type=float,
        default=0.8,
        help="exact-Jaccard verify threshold for --neardup",
    )
    tp.add_argument(
        "--neardup-collapse-identical",
        action="store_true",
        help="band only one representative per identical-shingle-set "
        "group (worth it for rampantly duplicated un-deduped corpora; "
        "see neardup_dedup)",
    )
    tp.add_argument(
        "--checkpoint-dir",
        default=None,
        help="reliable checkpoint dir (HDFS/S3) for the --neardup "
        "stage's lineage-truncation points (default: executor-local "
        "localCheckpoint — fine for batch jobs, lost with an executor)",
    )
    tp.add_argument(
        "--substring-dedup",
        action="store_true",
        help="remove cross-document duplicated n-gram spans (boilerplate) "
        "from surviving docs before chunking",
    )
    tp.add_argument("--substring-ngram", type=int, default=20)
    tp.add_argument("--min-quality", type=float, default=0.5)
    tp.add_argument(
        "--quality-model",
        default=None,
        help="path of a saved LogisticRegression quality classifier "
        "(operators/quality_model.py; save_model); applied as a baked-"
        "coefficient Catalyst filter in the curation scan",
    )
    tp.add_argument(
        "--quality-model-tau",
        type=float,
        default=0.5,
        help="P(good) threshold for --quality-model",
    )
    tp.add_argument(
        "--trusted-path",
        default=None,
        help="parquet of trusted-domain docs; surviving docs are scored "
        "against a unigram model fit on them and only the lowest-"
        "cross-entropy band is kept (CCNet-style perplexity filter)",
    )
    tp.add_argument(
        "--perplexity-keep",
        type=float,
        default=0.7,
        help="fraction of docs kept by the perplexity band "
        "(requires --trusted-path)",
    )
    tp.add_argument(
        "--tokenizer",
        choices=("ws", "re", "re-budget", "bpe-budget"),
        default="ws",
        help="token-budget unit for chunking: whitespace tokens (ws), "
        "BPE-ish regex tokens (re, functions/text.py:re_tokens), "
        "re-budget — budget chunks by the regex-token COST of each "
        "whitespace token while shipping the ORIGINAL text "
        "(--overlap-tokens adds ws-token boundary context, default 0; "
        "the budget governs new tokens only) — or bpe-budget, the same "
        "shape priced by a trained BPE model (requires --bpe-model; "
        "train one with the bpe-train subcommand). "
        "CAUTION: chunk_text is rebuilt from the tokenizer's stream, so "
        "'re' REWRITES the shipped shard text (lowercased, every "
        "non-[a-z0-9] character stripped) — use it only when the training "
        "target wants that normalization; 'ws' and the *-budget modes "
        "preserve the original text modulo whitespace collapsing",
    )
    tp.add_argument(
        "--bpe-model",
        default=None,
        help="parquet merge table from bpe-train (bpe-budget only)",
    )
    tp.add_argument("--sample-fraction", type=float, default=None)
    tp.add_argument("--chunk-tokens", type=int, default=512)
    # None sentinel: each chunking path applies its own default (64 for
    # fixed-size, 0 for re-budget) only when the flag was not typed
    tp.add_argument("--overlap-tokens", type=int, default=None)
    tp.add_argument("--seq-len", type=int, default=2048)
    tp.add_argument("--num-shards", type=int, default=16)
    tp.add_argument("--seed", type=int, default=0)
    tp.set_defaults(fn=_cmd_trainprep)

    bt = sub.add_parser(
        "bpe-train",
        help="train a BPE merge table on a documents parquet sample",
    )
    bt.add_argument("in_path")
    bt.add_argument("model_dir")
    bt.add_argument("--text-col", default="text")
    bt.add_argument("--num-merges", type=int, default=2000)
    bt.add_argument("--max-fit-rows", type=int, default=100_000)
    bt.add_argument("--sample-fraction", type=float, default=None)
    bt.set_defaults(fn=_cmd_bpe_train)

    vs = sub.add_parser(
        "verify-shards",
        help="check a shard/pack-map directory against its _MANIFEST.json",
    )
    vs.add_argument("path")
    vs.set_defaults(fn=_cmd_verify_shards)

    ib = sub.add_parser(
        "index-build",
        help="materialize the LSH-hashed ANN index for cold-start serving",
    )
    ib.add_argument("out_dir")
    ib.set_defaults(fn=_cmd_index_build)

    rc = sub.add_parser("recommend", help="ANN top-k for a movie id")
    rc.add_argument("out_dir")
    rc.add_argument("movie_id", type=int)
    rc.add_argument("--top-k", type=int, default=5)
    rc.set_defaults(fn=_cmd_recommend)

    vi = sub.add_parser(
        "vector-index",
        help="build a persisted IVF(-SQ8/-PQ) ANN index over an "
        "embedding parquet table",
    )
    vi.add_argument("emb_path")
    vi.add_argument("index_dir")
    vi.add_argument("--id-col", default="vec_id")
    vi.add_argument("--vec-col", default="embedding")
    vi.add_argument("--n-centroids", type=int, default=16)
    vi.add_argument(
        "--sq8", action="store_true", help="store the int8 candidate tier"
    )
    vi.add_argument(
        "--pq-m", type=int, default=0,
        help="PQ subspaces; 0 (default) disables the PQ tier",
    )
    vi.add_argument("--pq-ksub", type=int, default=256)
    vi.set_defaults(fn=_cmd_vector_index)

    vq = sub.add_parser(
        "vector-search", help="ANN top-k from a vector-index directory"
    )
    vq.add_argument("index_dir")
    vq.add_argument("--query-id", type=int, default=None)
    vq.add_argument(
        "--query-vec", default=None, help="JSON array of floats"
    )
    vq.add_argument(
        "--tier", choices=["exact", "sq8", "pq"], default="exact"
    )
    vq.add_argument("--top-k", type=int, default=5)
    vq.add_argument("--n-probe", type=int, default=4)
    vq.add_argument("--rerank-factor", type=int, default=8)
    vq.add_argument("--id-col", default="vec_id")
    vq.add_argument("--vec-col", default="embedding")
    vq.set_defaults(fn=_cmd_vector_search)
    return p


def main(argv: Sequence[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
