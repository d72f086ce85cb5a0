"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

North-star training-data-pipeline operators (the reference has no dedup
beyond ``dropDuplicates(["id"])``, transform/execute.py:80). The designs are
the standard ones from the dedup literature (shingle → minhash → band →
bucket-join; simhash bit-vote), expressed as pure Catalyst expressions.

Cross-engine determinism: every hash in the family derives from md5, which
Spark and DuckDB implement identically, so the *entire* LSH candidate
generation — not just the final verify step — is reproducible in ANSI SQL.
That lets the correctness gate hash-compare an approximate algorithm exactly:
both engines miss the same (rare, deterministic) pairs.

Scale shape: per-doc signature work is embarrassingly parallel in the scan
stage; candidate generation is one explode (bands/doc = small constant) + one
shuffle on (band_idx, band_hash); the verify join touches only candidate
pairs. Nothing is ever all-pairs ACROSS buckets — and since r15 nothing is
quadratic WITHIN a bucket either. md5 uniformity spreads *distinct*
signatures, but identical band hashes all land in one bucket, and a bucket
of B near-identical docs (templated pages, mirrored boilerplate — the exact
corpus shape near-dup exists to clean) would make the self-join emit
B*(B-1)/2 pairs. Two explicit bounds close that:

1. *Pre-collapse*: docs with IDENTICAL shingle sets (128-bit commutative
   fingerprint riding the minhash aggregation — zero extra passes) collapse
   to one banded representative; their pairwise Jaccard is exactly 1, so
   small groups emit the exact clique and oversized groups a logged star —
   see ``minhash_neardup_pairs``.
2. *Bucket guard*: every (band_idx, band_hash) bucket larger than
   ``max_bucket_size`` is logged and star-joined against its min doc id
   instead of self-joined — see ``banded_candidate_pairs``.
"""

from __future__ import annotations

import logging
from functools import reduce

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")

def word_ngrams(tokens: Column, k: int = 3, *, distinct: bool = True) -> Column:
    """k-word grams of a token array; ``distinct=True`` gives the Jaccard
    ground set (shingles), ``distinct=False`` keeps multiplicity (the
    frequency stream heavy-hitter/TF consumers need).

    Built by zipping the array with its own k-1 shifted tails (one slice per
    offset) instead of slicing per position — 3x faster than the naive
    transform-over-indices form, which allocates a k-element sub-array for
    every position. zip_with pads the shorter side with NULL and F.concat
    propagates it, so the k-1 ragged tail entries drop in the final filter.
    """
    n = F.size(tokens)
    acc = F.slice(tokens, k, n) if k > 1 else tokens
    for off in range(k - 2, -1, -1):
        part = F.slice(tokens, off + 1, n) if off else tokens
        acc = F.zip_with(part, acc, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.filter(acc, lambda x: x.isNotNull())
    return F.array_distinct(grams) if distinct else grams


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array (the Jaccard ground set);
    see word_ngrams."""
    return word_ngrams(tokens, k, distinct=True)


CW_P = (1 << 31) - 1  # Mersenne prime 2^31-1: the Carter-Wegman modulus


def cw_coeffs(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic Carter-Wegman coefficients (a_i, b_i, c_i), each < 2^28,
    derived from the md5 family (hashlib.md5 == F.md5 == DuckDB md5) so the
    identical constants regenerate anywhere. a/b are forced odd."""
    import hashlib

    def c(tag: str, i: int) -> int:
        return int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:7], 16)

    return [
        (c("a", i) | 1, c("b", i) | 1, c("c", i)) for i in range(num_hashes)
    ]


def minhash_bands(
    base: DataFrame, num_hashes: int = 12, rows_per_band: int = 3
) -> DataFrame:
    """(doc_id, sh) -> (doc_id, bands): MinHash signature + LSH band hashes
    via explode → per-shingle md5 → Carter-Wegman derivation → partial-agg
    min.

    Hash family: every shingle is hashed ONCE (md5), its leading 16 hex
    digits parsed as two 32-bit words (w1, w2); hash i is the universal
    (pairwise-independent) combination (a_i*w1 + b_i*w2 + c_i) mod (2^31-1)
    — the standard minhash construction (one strong base hash, k cheap
    derived permutations). All products stay < 2^61, so the arithmetic is
    exact in a Java long AND a DuckDB BIGINT (which errors on overflow
    rather than wrapping): the family replays bit-for-bit in ANSI SQL.
    Earlier form (3 md5 + 12 conv hex-parses per shingle) spent ~4x longer
    in the scan stage — conv is a double parse (hex→dec string→long).

    The min aggregates over LONGS, not hex strings: min(string) has an
    immutable agg buffer, forcing SortAggregate (two full sorts of the
    exploded shingle rows — measured 2x slower); longs keep the whole thing
    in HashAggregate, and it combines map-side, so the only shuffled bytes
    are num_hashes longs per doc — the per-shingle hash rows never leave
    the scan stage. Docs whose shingle set is empty vanish here (no
    exploded rows), matching the caller's non-empty filter.
    """
    sig = minhash_signature_cols(base, num_hashes)
    return sig.select(
        "doc_id",
        band_hashes(
            [F.col(f"mh{i}").cast("string") for i in range(num_hashes)],
            rows_per_band,
        ).alias("bands"),
    )


def minhash_signature_cols(
    base: DataFrame, num_hashes: int = 12, *, with_fingerprint: bool = False
) -> DataFrame:
    """(doc_id, sh) -> (doc_id, mh0..mh{n-1}): the raw MinHash signature as
    one long column per hash (the agg shape HashAggregate needs — see
    minhash_bands' docstring). Shared by the banding path above and the
    incremental signature store (operators/incremental_dedup.py), which
    persists signatures so future batches can estimate Jaccard against the
    corpus without its shingles.

    ``with_fingerprint`` adds ``fp1``/``fp2``: a 128-bit order-independent
    SET fingerprint (bit_xor of two independently-seeded xxhash64 values
    per shingle) riding the SAME aggregation — zero extra passes, fully
    map-side-combinable, no sort of the shingle arrays. Equal sets always
    produce equal fingerprints (xor is commutative and sh is distinct);
    unequal sets collide with probability ~2^-128 per pair — negligible
    for the identical-set collapse it feeds (a collision would wrongly
    collapse two docs; no adversarial inputs are assumed here)."""
    coeffs = cw_coeffs(num_hashes)
    expl = base.select("doc_id", F.explode("sh").alias("s"))
    # Two-step select so md5 evaluates once per shingle (same-project CSE is
    # codegen-dependent; an explicit intermediate column is guaranteed).
    proj1: list[Column] = [F.md5("s").alias("h")]
    proj2: list[Column] = [
        F.conv(F.col("h").substr(1, 8), 16, 10).cast("long").alias("w1"),
        F.conv(F.col("h").substr(9, 8), 16, 10).cast("long").alias("w2"),
    ]
    if with_fingerprint:
        proj1 += [
            F.xxhash64("s").alias("x1"),
            F.xxhash64("s", F.lit(1)).alias("x2"),
        ]
        proj2 += [F.col("x1"), F.col("x2")]
    hashed = expl.select("doc_id", *proj1).select("doc_id", *proj2)
    aggs = [
        F.min(
            (F.lit(a) * F.col("w1") + F.lit(b) * F.col("w2") + F.lit(c))
            % F.lit(CW_P)
        ).alias(f"mh{i}")
        for i, (a, b, c) in enumerate(coeffs)
    ]
    if with_fingerprint:
        aggs += [
            F.bit_xor("x1").alias("fp1"),
            F.bit_xor("x2").alias("fp2"),
        ]
    return hashed.groupBy("doc_id").agg(*aggs)


def band_hashes(sig: list[Column], rows_per_band: int = 3) -> Column:
    """LSH banding: hash each consecutive group of ``rows_per_band``
    signature entries; docs sharing any band hash become candidates."""
    bands = [
        F.md5(F.concat_ws("|", *sig[j : j + rows_per_band]))
        for j in range(0, len(sig), rows_per_band)
    ]
    return F.array(*bands)


def jaccard(shingles_a: Column, shingles_b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(shingles_a, shingles_b))
    union = F.size(shingles_a) + F.size(shingles_b) - inter
    return inter.cast("double") / union.cast("double")


def explode_bands_with_priors(
    bands_frame: DataFrame,
    n_bands: int,
    *,
    id_cols: tuple[str, ...] = ("doc_id",),
    bands_col: str = "bands",
    idx_name: str = "band_idx",
    val_name: str = "band_hash",
) -> tuple[DataFrame, tuple[str, ...]]:
    """Explode a (ids..., bands array) frame into one row per band, each
    row additionally carrying its EARLIER band values (NULL-padded past
    the row's own band index) as ``__prior<i>`` columns — the inputs
    :func:`banded_candidate_pairs` needs for first-matching-bucket
    emission (see its docstring). The caller must materialize
    ``bands_frame`` first (every repo caller checkpoints/persists it), so
    the ``getItem`` references read the stored array instead of
    re-deriving the band expressions per column."""
    prior_cols = tuple(f"__prior{i}" for i in range(max(n_bands - 1, 0)))
    exploded = bands_frame.select(
        *id_cols,
        bands_col,
        F.posexplode(bands_col).alias(idx_name, val_name),
    ).select(
        *id_cols,
        idx_name,
        val_name,
        *[
            F.when(F.col(idx_name) > i, F.col(bands_col).getItem(i)).alias(c)
            for i, c in enumerate(prior_cols)
        ],
    )
    return exploded, prior_cols


def banded_candidate_pairs(
    exploded: DataFrame,
    id_col: str = "doc_id",
    bucket_cols: tuple[str, ...] = ("band_idx", "band_hash"),
    *,
    max_bucket_size: int = 2000,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    prior_match_cols: tuple[str, ...] = (),
    stats: dict | None = None,
    materialize=None,
) -> DataFrame:
    """Bucket self-join with an explicit overflow policy: rows sharing a
    bucket key become DISTINCT candidate pairs (id_a < id_b), but any bucket
    larger than ``max_bucket_size`` is star-joined against its minimum id
    (B-1 pairs) instead of self-joined (B*(B-1)/2 pairs).

    Why a guard is mandatory at 100 TB: the bucket keys are hashes, so
    *distinct* signatures spread uniformly, but IDENTICAL band signatures —
    a viral near-identical cluster of templated pages, or a mass of
    byte-identical documents (which share ALL their band hashes) — all land
    in ONE bucket, and the plain self-join is quadratic in its size (100k
    docs in a bucket = 5e9 pairs into distinct + verify). The star policy
    keeps the candidate volume linear: buckets up to the cap still emit
    their EXACT clique (output identical to the unguarded join), and every
    member of an overflow bucket still pairs with the bucket minimum, so a
    downstream connected-components consumer (operators/graph.py) lands
    verified duplicates of that rep in one cluster.

    Cost on clean corpora: ONE single-row detection job (a map-side-
    combined bucket-size aggregate over the caller-persisted/checkpointed
    band frame, reduced to overflow-count + max in the same action) — and
    when nothing overflows, the join plan is EXACTLY the unguarded
    self-join (no window, no extra shuffle, no anti join). The overflow
    frame itself is only materialized in the pathological case.

    Per the no-silent-caps rule the overflow path is LOUD: a warning names
    the bucket count and the largest bucket, and ``stats`` (optional dict)
    receives ``{"overflow_buckets": n, "max_bucket_size_seen": m}``.
    ``materialize`` (default: eager localCheckpoint) runs on the result
    inside this function so callers never re-run the band join.

    ``prior_match_cols`` (r20, first-matching-bucket emission): names of
    extra columns on ``exploded`` where EQUALITY between two joined rows
    proves the same pair also co-occurs in an EARLIER bucket (NULL = no
    earlier bucket at that slot — the LSH callers pass each row's earlier
    band hashes, NULL-padded past its own band index). A pair sharing m
    buckets is otherwise emitted m times — once per bucket — and every
    duplicate rides the join output and the global ``distinct`` shuffle
    (measured ~2.9 emissions/pair on the 605k-doc near-dup replay). With
    the columns given, the self-join adds one codegen-friendly conjunct
    per column — ``(a.c = b.c) IS NOT TRUE`` — so each pair is emitted
    from its FIRST shared bucket only; the output SET is identical
    (deliberately NO lambda/HOF form here: higher-order predicates are
    CodegenFallback and evaluate interpreted per joined row — r19). The
    filter is DISABLED whenever the guard detected overflow buckets: an
    earlier shared bucket may be an overflow bucket that star-joins
    instead of emitting the pair, so suppressing the later emission would
    drop the pair entirely. In that (loud, pathological) regime the old
    emit-everywhere + distinct plan runs unchanged, and Catalyst's column
    pruning drops the unused prior columns from the join input.
    """
    if materialize is None:
        def materialize(df):
            return df.localCheckpoint(eager=True)

    keys = list(bucket_cols)
    # Detection is ONE single-row job (two stacked aggregates execute in
    # one action): overflow count + biggest bucket. The overflow FRAME is
    # only materialized when something actually overflows — the clean
    # common case pays exactly one narrow map-side-combined job.
    det = (
        exploded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .agg(
            F.coalesce(
                F.sum((F.col("_bsz") > max_bucket_size).cast("long")),
                F.lit(0),
            ).alias("n_over"),
            F.coalesce(F.max("_bsz"), F.lit(0)).alias("biggest"),
        )
        .first()
    )
    n_over = int(det["n_over"])
    biggest = int(det["biggest"])
    if stats is not None:
        stats["overflow_buckets"] = n_over
    if n_over:
        over = (
            exploded.groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("_bsz"),
                F.min(id_col).alias("_bmin"),
            )
            .filter(F.col("_bsz") > max_bucket_size)
            # tiny by construction: at most rows/max_bucket_size buckets
            .localCheckpoint(eager=True)
        )
        if stats is not None:
            stats["max_bucket_size_seen"] = biggest
        log.warning(
            "banded_candidate_pairs: %d bucket(s) exceed max_bucket_size="
            "%d (largest: %d rows); emitting min-id star pairs for them "
            "instead of the quadratic self-join — near-dup PAIR output for "
            "those buckets is a linear certificate: members that verify as "
            "duplicates OF THE BUCKET REP stay in one cluster, but two "
            "members that near-dup each other without both matching the rep "
            "lose that edge after verification and may land in separate "
            "clusters",
            n_over,
            max_bucket_size,
            biggest,
        )
        normal = exploded.join(over, keys, "left_anti")
        star = (
            exploded.join(over, keys)
            .filter(F.col(id_col) != F.col("_bmin"))
            .select(
                F.col("_bmin").alias(out_a), F.col(id_col).alias(out_b)
            )
        )
    else:
        normal, star = exploded, None
    a, b = normal.alias("a"), normal.alias("b")
    cond = reduce(
        lambda acc, c: acc & (F.col(f"a.{c}") == F.col(f"b.{c}")),
        keys[1:],
        F.col(f"a.{keys[0]}") == F.col(f"b.{keys[0]}"),
    ) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if prior_match_cols and not n_over:
        # First-matching-bucket emission (see docstring): both rows share
        # the bucket's index column (a join key), so their prior columns
        # are NULL at exactly the same slots — a NULL-vs-NULL slot means
        # "no earlier bucket here", never a spurious match.
        for c in prior_match_cols:
            cond = cond & ~F.coalesce(
                F.col(f"a.{c}") == F.col(f"b.{c}"), F.lit(False)
            )
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b)
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return materialize(pairs.distinct())


def minhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.8,
    cache_shingles: bool = True,
    checkpoint_dir: str | None = None,
    max_bucket_size: int = 2000,
    group_clique_cap: int = 64,
    collapse_identical: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band →
    guarded bucket self-join → exact-Jaccard verify. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= threshold.

    Dup-heavy corpora are the TARGET input of this operator, so the
    quadratic hazard is bounded explicitly (r14 VERDICT #1):

    * *Bucket guard* (always on): near-identical docs share band hashes,
      so they concentrate in band buckets; ``banded_candidate_pairs``
      star-joins any bucket over ``max_bucket_size`` (logged) instead of
      self-joining it. Byte-identical docs share ALL their band hashes,
      so identical-content clusters are bounded by the same guard.
      Buckets UNDER the cap self-join normally — their output, including
      whole identical-content cliques up to the cap, is bit-identical to
      the unguarded join's.
    * *Identical-set collapse* (``collapse_identical=True``, opt-in):
      docs sharing a shingle-set fingerprint (a 128-bit commutative hash
      riding the minhash aggregation — zero extra passes) have pairwise
      Jaccard exactly 1 and identical signatures/bands, so only each
      group's min-id REPRESENTATIVE is banded. Groups of ≤
      ``group_clique_cap`` docs emit their exact clique and expand
      verified cross-group rep pairs to all member pairs —
      output-identical to the uncollapsed join; larger groups emit a
      LOGGED rep→member star and keep rep-level cross pairs (q54-style
      connected components are invariant). Opt-in because the guard
      already bounds identical-content blowups and exact content dedup
      normally runs upstream (plans/training_pipeline.py) — the collapse
      pays ~3 extra narrow stages to skip re-hashing duplicate members,
      worth it only when identical-content duplication is rampant AND
      un-deduped.

    ``cache_shingles`` persists the (doc_id, shingle-set) frame that three
    consumers read (the signature pass + both sides of the verify join) —
    measured ~1.6x end-to-end vs recomputing the split/zip_with shingling
    per consumer. The cached payload is O(corpus tokens); on a cluster
    whose memory+disk cannot hold it, pass False and pay the recompute.

    ``checkpoint_dir`` switches the lineage-truncation points from
    ``localCheckpoint`` (executor blocks; lost with an executor) to
    reliable ``checkpoint()`` on the given HDFS/S3 path — the production
    setting for long jobs; results are identical. The scope helper
    (operators/_checkpoint.py) restores the previous session checkpoint
    dir and deletes this run's checkpoint files once the result is
    detached, so repeated invocations do not leak reliable-storage copies.

    ``stats`` (optional dict) receives ``{"overflow_buckets": n, ...}``
    from the guard (plus ``{"multi_groups": g, "overflow_groups": m}``
    when collapsing).
    """
    from movie_recommendation_etl_spark.operators._checkpoint import (
        reliable_checkpoint_scope,
    )

    with reliable_checkpoint_scope(
        docs.sparkSession, checkpoint_dir
    ) as _ckpt:
        return _minhash_neardup_pairs(
            docs, id_col, text_col, k=k, num_hashes=num_hashes,
            rows_per_band=rows_per_band, threshold=threshold,
            cache_shingles=cache_shingles, reliable=checkpoint_dir is not None,
            ckpt=_ckpt, max_bucket_size=max_bucket_size,
            group_clique_cap=group_clique_cap,
            collapse_identical=collapse_identical, stats=stats,
        )


def neardup_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.8,
    cache_shingles: bool = True,
    checkpoint_dir: str | None = None,
    max_bucket_size: int = 2000,
    group_clique_cap: int = 64,
    collapse_identical: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Fuzzy-dedup stage (r16, VERDICT r15 #4): the standard RefinedWeb/
    Dolma-style pipeline step the reference's similarity machinery exists
    for (reference transform/execute.ipynb:1645-1670 ranks by pairwise
    cosine) — MinHash near-dup pairs → connected components → keep each
    cluster's MIN-ID survivor, drop the other members. Docs in no cluster
    pass through untouched; the output schema is exactly ``docs``'s.

    Composition, not new machinery: pairs come from the bounded
    :func:`minhash_neardup_pairs` (bucket guard always on; see its
    docstring for the overflow-bucket fragmentation trade) and clusters
    from ``operators.graph.connected_components`` (pointer doubling,
    checkpointed rounds). The survivor rule matches exact dedup
    (operators/dedup.py) and the incremental admission stores: smallest id
    wins, so re-runs and incremental replays agree on survivors.

    The final drop is a broadcast-friendly LEFT ANTI join against the
    loser set (cluster members minus their cluster id), which is at most
    one row per duplicated doc — tiny relative to the corpus.

    ``stats`` receives the pair stage's guard counters plus
    ``{"neardup_losers": n, "cc_rounds": r}``.
    """
    from movie_recommendation_etl_spark.operators.graph import (
        connected_components,
    )

    pair_stats: dict = {} if stats is None else stats
    pairs = minhash_neardup_pairs(
        docs,
        id_col,
        text_col,
        k=k,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        threshold=threshold,
        cache_shingles=cache_shingles,
        checkpoint_dir=checkpoint_dir,
        max_bucket_size=max_bucket_size,
        group_clique_cap=group_clique_cap,
        collapse_identical=collapse_identical,
        stats=pair_stats,
    )
    cc_stats: dict = {}
    labels = connected_components(
        pairs.select("doc_a", "doc_b"),
        "doc_a",
        "doc_b",
        checkpoint_dir=checkpoint_dir,
        # verified pairs are distinct with doc_a < doc_b by construction
        # (both pipeline modes), so CC can skip the symmetrized frame's
        # distinct — one full 2·|pairs| shuffle fewer (r20, guide §2.4)
        edges_distinct=True,
        stats=cc_stats,
    )
    losers = labels.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    if stats is not None:
        stats["cc_rounds"] = cc_stats.get("rounds", 0)
        if "fast_path_edges" in cc_stats:
            stats["fast_path_edges"] = cc_stats["fast_path_edges"]
        stats["neardup_losers"] = losers.count()
    return docs.join(losers, id_col, "left_anti")


def _minhash_neardup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int,
    num_hashes: int,
    rows_per_band: int,
    threshold: float,
    cache_shingles: bool,
    reliable: bool,
    ckpt,
    max_bucket_size: int,
    group_clique_cap: int,
    collapse_identical: bool,
    stats: dict | None,
) -> DataFrame:
    _ckpt = ckpt
    toks = F.split(F.col(text_col), " ")
    sh = word_shingles(toks, k)
    # Docs with zero shingles can never pass verify (Jaccard over an empty
    # set is NULL), and at scale they would all share one degenerate LSH
    # bucket — drop them before hashing.
    base = docs.select(F.col(id_col).alias("doc_id"), sh.alias("sh")).filter(
        F.size("sh") > 0
    )
    base_cache = None
    if cache_shingles:
        base_cache = base.persist(StorageLevel.MEMORY_AND_DISK)
        # Right-size the shingle frame too (r17, the q53 drift cause):
        # it inherits the input's partition count (64 nearly-empty
        # partitions at bench scale) and feeds the signature aggregation
        # plus BOTH verify-join sides — each a per-partition-scheduled
        # stage. The count doubles as the cache materialization; the
        # coalesce is a no-op at real scale (rows/50k >= partitions).
        # Only on the cached path: uncached lineage would pay a full
        # recompute for the count. unpersist goes through base_cache —
        # calling it on the coalesced wrapper would leak the cache.
        from movie_recommendation_etl_spark.operators.skew import (
            right_size_materialized,
        )

        base = right_size_materialized(base_cache)

    if not collapse_identical:
        # Guard-only fast path (default): identical to the unguarded
        # pipeline when nothing overflows — two deep jobs, no extra
        # stages. Band-frame persist, tiny payload: (doc_id, 4 band
        # hashes ~ 130 bytes/row) — O(docs), not O(corpus); the guard's
        # bucket-size pass and the self-join share its one
        # materialization.
        bands_df = minhash_bands(base, num_hashes, rows_per_band).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # The count materializes the cache (the detection job did this
        # implicitly before); right-sizing then drops the per-stage
        # scheduling tax for the three consumers (detection, both join
        # sides) — the q53 drift cause applies to this path identically
        # (r17; no-op at real scale, see right_size_materialized).
        from movie_recommendation_etl_spark.operators.skew import (
            right_size_materialized,
        )

        bands_read = right_size_materialized(bands_df)
        exploded, prior_cols = explode_bands_with_priors(
            bands_read, -(-num_hashes // rows_per_band)
        )
        # banded_candidate_pairs materializes the (small, O(candidates))
        # pair set through _ckpt, so the persisted band frame releases
        # immediately (r2 ADVICE: repeated invocations must not
        # accumulate cached blocks for the session lifetime).
        guard_stats: dict = {} if stats is None else stats
        pairs = banded_candidate_pairs(
            exploded,
            max_bucket_size=max_bucket_size,
            prior_match_cols=prior_cols,
            stats=guard_stats,
            materialize=_ckpt,
        )
        if guard_stats.get("overflow_buckets"):
            # Collapse auto-hint (r16, VERDICT r15 #6): when the overflow
            # is driven by IDENTICAL content — docs sharing their whole
            # SHINGLE SET, exactly the groups collapse_identical would
            # band as one representative + exact clique — say so loudly
            # instead of leaving the cheaper path knowledge-gated. One
            # extra map-side-combined single-row job over the (persisted)
            # shingle frame — an in-expression xor-of-xxhash64 set
            # fingerprint, no explode, no sort — paid ONLY on the
            # overflow path; the clean path stays byte-identical (the
            # guard-cost contract in banded_candidate_pairs). Near-
            # identical-but-distinct corpora (the other overflow shape,
            # which the collapse canNOT absorb) leave every group at
            # size 1 and get no hint.
            set_fp = F.aggregate(
                F.col("sh"),
                F.lit(0).cast("long"),
                lambda acc, x: acc.bitwiseXOR(F.xxhash64(x)),
            )
            biggest_ident = int(
                base.groupBy(set_fp.alias("_fp"))
                .agg(F.count(F.lit(1)).alias("_g"))
                .agg(F.coalesce(F.max("_g"), F.lit(0)))
                .first()[0]
            )
            if stats is not None:
                stats["max_identical_group"] = biggest_ident
            if biggest_ident > max_bucket_size:
                log.warning(
                    "minhash_neardup_pairs: %d docs share ONE identical "
                    "shingle set (> max_bucket_size=%d) — the overflow is "
                    "identical-content-dominated; re-run with "
                    "collapse_identical=True to band a single "
                    "representative per identical group and emit exact "
                    "cliques instead of star certificates",
                    biggest_ident,
                    max_bucket_size,
                )
        bands_df.unpersist()
        verified = _verify_pairs(pairs, base, threshold)
        if cache_shingles:
            # Materialize the (small, O(verified pairs)) result so the
            # O(corpus tokens) shingle cache releases before return.
            verified = _ckpt(verified)
            base_cache.unpersist()
        if reliable:
            verified = verified.localCheckpoint(eager=True)
        return verified

    # ---- collapse_identical=True ---------------------------------------
    # An order-independent 128-bit set fingerprint (fp1, fp2) rides the
    # minhash aggregation itself (see minhash_signature_cols) — no extra
    # pass over the shingles, no array sort, no payload shuffle. The
    # narrow signature frame (14 longs/doc) is the hub every downstream
    # step reads.
    sig = minhash_signature_cols(base, num_hashes, with_fingerprint=True)
    if cache_shingles:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    multi_groups = (
        sig.groupBy("fp1", "fp2")
        .agg(F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsz"))
        .filter(F.col("gsz") > 1)
    )
    # Members of multi-doc groups: EMPTY on a fully-distinct corpus,
    # large only on the mass-duplicated corpora this mode exists for.
    # Declarative throughout — AQE broadcasts the joins against it while
    # it is small and shuffles when it is not.
    multi = (
        sig.select("doc_id", "fp1", "fp2")
        .join(multi_groups, ["fp1", "fp2"])
        .select("doc_id", "rep", "gsz", "fp1", "fp2")
    )
    if cache_shingles:
        # gated like sig/base: the uncached mode trades recompute for
        # memory by contract, and an ungated persist would leak blocks
        # past return (nothing would unpersist it)
        multi = multi.persist(StorageLevel.MEMORY_AND_DISK)
    excl = multi.filter(F.col("doc_id") != F.col("rep")).select("doc_id")
    # Only representatives are banded: a 100k-doc identical cluster
    # contributes ONE row to every downstream band bucket.
    reps_sig = sig.join(excl, "doc_id", "left_anti")
    reps_sh = base.join(excl, "doc_id", "left_anti")
    # Bands derive from the cached signature frame per consumer (md5 of
    # 4 small concatenations per row — cheaper than another persist).
    bands_df = reps_sig.select(
        "doc_id",
        band_hashes(
            [F.col(f"mh{i}").cast("string") for i in range(num_hashes)],
            rows_per_band,
        ).alias("bands"),
    )
    # bands_df is lineage off the CACHED sig frame, not materialized
    # itself: the helper's getItem(i) references simplify to the single
    # band-i md5 expression (SimplifyExtractValueOps), so the prior
    # columns cost at most n_bands-1 extra short-string md5s per row.
    exploded, prior_cols = explode_bands_with_priors(
        bands_df, -(-num_hashes // rows_per_band)
    )
    pairs = banded_candidate_pairs(
        exploded,
        max_bucket_size=max_bucket_size,
        prior_match_cols=prior_cols,
        stats=stats,
        materialize=_ckpt,
    )
    # Collapse counters: one SMALL aggregate on the (persisted, cache-hot
    # from the anti join above) multi frame. Not DataFrame.observe: AQE
    # legitimately empty-propagates past an observed node when a join
    # side or the action's result is empty (verified empirically),
    # leaving an invalid metrics row.
    is_rep = F.col("doc_id") == F.col("rep")
    got_multi = multi.agg(
        F.coalesce(F.sum(is_rep.cast("long")), F.lit(0)).alias("n_groups"),
        F.coalesce(
            F.sum(
                (is_rep & (F.col("gsz") > group_clique_cap)).cast("long")
            ),
            F.lit(0),
        ).alias("n_over"),
    ).first()
    n_over_groups = int(got_multi["n_over"])
    n_multi_groups = int(got_multi["n_groups"])
    if stats is not None:
        stats["multi_groups"] = n_multi_groups
        stats["overflow_groups"] = n_over_groups
    if n_over_groups:
        log.warning(
            "minhash_neardup_pairs: %d identical-shingle-set group(s) "
            "exceed group_clique_cap=%d; emitting rep->member stars "
            "(jaccard exactly 1.0) instead of the quadratic clique — "
            "connected components of the duplicate relation are preserved",
            n_over_groups,
            group_clique_cap,
        )
    verified_reps = _verify_pairs(pairs, reps_sh, threshold)
    if n_multi_groups == 0:
        # fully-distinct corpus: every group is a singleton — rep pairs
        # ARE the answer
        verified = verified_reps
    else:
        # Expand rep-level pairs back to member pairs. Each rep's
        # expansion set is its whole group when small (exact: every member
        # shares the rep's bands, so the uncollapsed join would have made
        # the identical candidates, and Jaccard depends only on the set)
        # or just the rep when the group overflows the clique cap
        # (rep-level pairs only — logged above). LEFT joins against the
        # small member frame (which contains each group's rep row too, so
        # a matched side expands to its full member set exactly once); an
        # unmatched side coalesces back to the rep itself.
        exp = multi.filter(F.col("gsz") <= group_clique_cap).select(
            F.col("rep").alias("_r"), F.col("doc_id").alias("_m")
        )
        mem_a = exp.select(
            F.col("_r").alias("doc_a"), F.col("_m").alias("_ma")
        )
        mem_b = exp.select(
            F.col("_r").alias("doc_b"), F.col("_m").alias("_mb")
        )
        cross = (
            verified_reps.join(mem_a, "doc_a", "left")
            .select(
                F.coalesce(F.col("_ma"), F.col("doc_a")).alias("_xa"),
                "doc_b",
                "jaccard",
            )
            .join(mem_b, "doc_b", "left")
            .select(
                F.least(
                    "_xa", F.coalesce(F.col("_mb"), F.col("doc_b"))
                ).alias("doc_a"),
                F.greatest(
                    "_xa", F.coalesce(F.col("_mb"), F.col("doc_b"))
                ).alias("doc_b"),
                "jaccard",
            )
        )
        # Within-group pairs: Jaccard is exactly 1.0 (intersection =
        # union), so they pass any threshold <= 1 without touching the
        # verify join. Small groups emit the exact clique; overflow
        # groups the rep->member star.
        small = multi.filter(F.col("gsz") <= group_clique_cap).select(
            "fp1", "fp2", "doc_id"
        )
        sa, sb = small.alias("sa"), small.alias("sb")
        within_small = sa.join(
            sb,
            (F.col("sa.fp1") == F.col("sb.fp1"))
            & (F.col("sa.fp2") == F.col("sb.fp2"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        ).select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
        within_star = multi.filter(
            (F.col("gsz") > group_clique_cap)
            & (F.col("doc_id") != F.col("rep"))
        ).select(
            F.col("rep").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
        verified = cross.unionByName(within_small).unionByName(within_star)
    if cache_shingles:
        # Materialize the (small, O(verified pairs)) result so the
        # O(corpus tokens) shingle cache releases before return (r2
        # ADVICE's no-session-lifetime-leak rule).
        verified = _ckpt(verified)
        multi.unpersist()
        sig.unpersist()
        base_cache.unpersist()
    if reliable:
        # detach the result onto local blocks BEFORE the scope exit
        # deletes this run's reliable checkpoint files
        verified = verified.localCheckpoint(eager=True)
    return verified


def shingle_hash60(sh: Column) -> Column:
    """Map a distinct-string shingle array to distinct 60-bit longs:
    the leading 15 hex digits of md5(shingle), parsed base-16. md5 keeps
    the mapping DuckDB-replayable (the md5-family rule every oracle
    constant follows, cw_coeffs above), and 60 bits keeps the parse
    inside a signed long. array_distinct guards the astronomically-rare
    collision case (P ~ n^2/2^61 per doc) so BOTH engines see identical
    distinct-element lists and the Jaccard formula stays bit-identical
    under every input, collisions included."""
    return F.array_distinct(
        F.transform(
            sh, lambda s: F.conv(F.md5(s).substr(1, 15), 16, 10).cast("long")
        )
    )


def _verify_pairs(
    pairs: DataFrame, shingle_sets: DataFrame, threshold: float
) -> DataFrame:
    """Jaccard verification of candidate pairs against the (doc_id, sh)
    shingle frame — shared by both pipeline modes.

    The per-pair set intersection runs over 60-bit md5-mapped shingles
    (:func:`shingle_hash60`), not raw strings: hashing happens ONCE per
    doc per join side (2 x docs rows, in the pre-join projection), after
    which the 6-8M-pair intersect compares longs instead of ~20-char
    strings and the join shuffles ~450 B/doc instead of ~1.2 KB. Measured
    at the 605k-doc reference replay (r18): 43.3 s -> 7.4 s for the verify
    stage, identical verified-pair set. The Jaccard VALUE equals
    the raw-string Jaccard unless two distinct shingles collide in 60
    bits (P ~ 2^-60 per pair); the DuckDB oracles replay the same md5
    mapping, so the differential is bit-identical by construction even
    then.

    The hashed frame is materialized ONCE (eager localCheckpoint) before
    the two joins consume it (r20): each join side is an independent
    subtree, so the lazy form evaluated the md5-per-shingle transform
    twice per doc — one full duplicate scan-stage pass over the corpus
    shingles (guide §4.4 duplicated evaluation). The checkpointed payload
    is the ~450 B/doc long-array frame the joins shuffle anyway; its
    blocks release with the frame's GC once the caller materializes the
    verified result."""
    hashed = shingle_sets.select(
        "doc_id", shingle_hash60(F.col("sh")).alias("sh")
    ).localCheckpoint(eager=True)
    return (
        pairs.join(
            hashed.withColumnRenamed("sh", "sh_a").withColumnRenamed(
                "doc_id", "doc_a"
            ),
            "doc_a",
        )
        .join(
            hashed.withColumnRenamed("sh", "sh_b").withColumnRenamed(
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


def simhash16(tokens: Column) -> Column:
    """16-bit SimHash: bit b votes +1/-1 per token by the high bit of hex
    digit b of md5(token); the bit is set when the vote sum is positive.
    Tokens carry multiplicity (standard simhash weighting by term count).

    ONE md5 per token: tokens are hashed up front and the 16 vote counters
    fold over the *hashed* array. The per-bit-outer formulation
    (transform over bits, aggregate over tokens re-deriving md5(t) inside)
    costs 16 md5 evaluations per token — Catalyst does not CSE across
    nested lambdas (r2 VERDICT #5)."""
    hashed = F.transform(tokens, lambda t: F.md5(t))
    votes = F.aggregate(
        hashed,
        F.array(*[F.lit(0) for _ in range(16)]),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda b: F.when(
                    h.substr(b, F.lit(1)).isin(*HEX_HIGH), 1
                ).otherwise(-1),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        votes,
        F.lit(0),
        lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
    )


def hamming16(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# --- signed random projection (SRP) LSH for dense embeddings ---------------

def srp_signs(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic Rademacher (+1/-1) hyperplanes from the md5 family:
    component i of hyperplane h is +1 iff the first hex digit of
    md5(f"{h}:{i}") has its high bit set. hashlib.md5 == SQL md5, so the
    identical hyperplanes regenerate inside a DuckDB oracle and SRP candidate
    generation replays bit-for-bit in ANSI SQL (sign-random-projection LSH,
    Charikar STOC'02: P[sign match] = 1 - angle/pi)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{h}:{i}".encode()).hexdigest()[0] in HEX_HIGH
            else -1.0
            for i in range(dim)
        ]
        for h in range(n_bits)
    ]


def srp_bands(
    vec_col: str, *, dim: int, n_bits: int = 96, rows_per_band: int = 8
) -> Column:
    """array<int> of LSH band values for a dense double-array column: bit h =
    [dot(hyperplane_h, vec) > 0], bands pack ``rows_per_band`` consecutive
    bits into one int. Vectors sharing any (band_idx, band_val) are
    candidates.

    The hyperplane signs are plan-time constants (embedded literals), so the
    whole expression is scan-stage codegen: n_bits*dim fused multiply-adds
    per row, no shuffle, no Python. The dots fold sequentially in double —
    the same order DuckDB's list_aggregate uses — so the bit signs (and
    therefore every candidate pair) are identical across engines.

    The expression is assembled as ONE SQL string parsed JVM-side: building
    the same tree through the Column API costs ~3 s of driver-side Py4J
    round-trips (96 bits x 64-element literal arrays), a fixed per-plan tax
    that dwarfed the sub-second execution at bench scale.
    """
    signs = srp_signs(n_bits, dim)

    def bit_sql(s: list[float]) -> str:
        arr = ",".join("1.0D" if v > 0 else "-1.0D" for v in s)
        return (
            f"(CASE WHEN aggregate(zip_with(`{vec_col}`, array({arr}), "
            "(x, sgn) -> x * sgn), 0.0D, (a, x) -> a + x) > 0.0D "
            "THEN 1 ELSE 0 END)"
        )

    bits = [bit_sql(s) for s in signs]
    bands = []
    for j in range(0, n_bits, rows_per_band):
        val = "0"
        for b in bits[j : j + rows_per_band]:
            val = f"({val} * 2 + {b})"
        bands.append(val)
    return F.expr("array(" + ", ".join(bands) + ")")


def srp_bands_vectorized(
    vec_col: str, *, dim: int, n_bits: int = 96, rows_per_band: int = 8
) -> Column:
    """Arrow-batched twin of :func:`srp_bands`: the same hyperplanes and
    band packing, computed as one numpy sign-matmul per batch instead of
    n_bits interpreted expression folds per row.

    This is the 100 TB scan path: the expression form costs ~0.4 ms/row
    (Catalyst evaluates higher-order folds interpreted, never codegen), which
    is days of CPU per billion rows; the matmul is ~1 us/row. The price is
    bit-exactness: BLAS sums in a different order than the sequential fold,
    so a dot within float-rounding of zero can flip a bit. For LSH candidate
    generation that moves individual borderline candidates, not correctness
    (verification is exact either way) — but the DuckDB-oracle-gated queries
    pin the expression form so the gate stays bit-for-bit.
    tests/test_neardup_similarity.py asserts both paths produce identical
    bands on the driver testdata.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    signs = np.asarray(srp_signs(n_bits, dim))  # (n_bits, dim)
    weights = 2 ** np.arange(rows_per_band - 1, -1, -1)  # MSB-first packing

    @pandas_udf("array<int>")
    def _bands(batch: pd.Series) -> pd.Series:
        mat = np.vstack(batch.to_numpy())  # (n, dim)
        bits = (mat @ signs.T) > 0.0  # (n, n_bits)
        vals = bits.reshape(len(mat), -1, rows_per_band) @ weights
        return pd.Series(list(vals.astype("int32")))

    return _bands(F.col(vec_col).cast("array<double>"))


def srp_candidate_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "emb",
    *,
    dim: int,
    n_bits: int = 96,
    rows_per_band: int = 8,
    impl: str = "expr",
    max_bucket_size: int = 2000,
    stats: dict | None = None,
) -> DataFrame:
    """(id, label, vec) -> DISTINCT candidate pairs (id_a < id_b) from the
    two-level (label, srp band) blocking — never all-pairs within a label.

    ``impl``: "expr" (default) evaluates the bands as a deterministic
    Catalyst expression — bit-for-bit reproducible in the DuckDB oracle;
    "vectorized" uses the Arrow/numpy scan path (srp_bands_vectorized) —
    ~400x less per-row CPU, the right choice at production scale.

    Scale shape: band payload is O(rows) ints (persisted once so the
    self-join doesn't re-derive the projection twice — Catalyst would inline
    the whole expression into both sides); the join keys (label, band_idx,
    band_val) spread *unrelated* vectors (collision ~(1/2)^rows_per_band
    per band, ~4.6% of pairs at the 96/8 default), so a coarse label is not
    by itself a quadratic block. But a mass-duplicated embedding cluster
    (re-crawled pages embedded identically) shares every band value, and
    that one (label, band_idx, band_val) bucket would self-join O(B^2) —
    so the join runs through :func:`banded_candidate_pairs`:
    buckets over ``max_bucket_size`` are logged and star-joined against
    their min id (exact-duplicate vectors are better handled by exact
    dedup upstream; the guard bounds whatever leaks through). ``stats``
    receives the guard's overflow counters.

    Operating point: SRP's collision gap is P[bit]=1-angle/pi, so banding
    separates NEAR-DUP thresholds (cos >= ~0.8) sharply but cannot prune at
    low thresholds like 0.3 (rho -> 1 as the threshold falls toward 0 —
    at cos 0.3 any >=95%-recall banding admits ~75% of random pairs). Use
    labels+bands for near-dup detection; for low-threshold similarity use
    the IVF path (ml/ivf.py) and accept approximate recall.
    """
    band_fn = srp_bands if impl == "expr" else srp_bands_vectorized
    # localCheckpoint, not persist: the band expression is a ~96x64-literal
    # tree whose ANALYSIS alone costs real driver time, and the guarded
    # join below runs THREE actions over this frame (bucket-size agg,
    # overflow count, self-join). A persist dedups execution but every
    # action still re-analyzes the full lineage; the eager checkpoint
    # truncates it so the expression is analyzed exactly once (measured:
    # the r15 guard cost q53 +79% under persist, recovered by this).
    banded = vecs.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        band_fn(
            vec_col, dim=dim, n_bits=n_bits, rows_per_band=rows_per_band
        ).alias("_bands"),
    ).localCheckpoint(eager=True)
    # Right-size the checkpointed frame (r17, the ADJUDICATED cause of
    # q53's r14->r16 bench drift): the checkpoint inherits the upstream
    # partition count (64 nearly-empty partitions for a few thousand rows
    # at bench scale) and every consumer stage below — the guard's
    # detection scan, both self-join sides — pays one scheduling round
    # per partition. No-op at real scale; see right_size_materialized.
    from movie_recommendation_etl_spark.operators.skew import (
        right_size_materialized,
    )

    banded = right_size_materialized(banded)
    # Prior-band ints for first-matching-bucket emission: _lbl equality is
    # already a join key, so an earlier equal band value proves the pair
    # co-occurred in that earlier (label, band) bucket.
    expl, prior_cols = explode_bands_with_priors(
        banded,
        -(-n_bits // rows_per_band),
        id_cols=("_id", "_lbl"),
        bands_col="_bands",
        idx_name="_band_idx",
        val_name="_band_val",
    )
    # banded_candidate_pairs materializes the (small, O(candidates)) pair
    # set itself (its bucket guard runs one separate single-row detection
    # job — observe() is deliberately avoided because AQE empty-propagation
    # invalidates its metrics row), so downstream consumers never re-run
    # the band join and the checkpointed band blocks release with this
    # frame's GC (r2 ADVICE).
    return banded_candidate_pairs(
        expl,
        id_col="_id",
        bucket_cols=("_lbl", "_band_idx", "_band_val"),
        max_bucket_size=max_bucket_size,
        out_a=f"{id_col}_a",
        out_b=f"{id_col}_b",
        prior_match_cols=prior_cols,
        stats=stats,
    )
