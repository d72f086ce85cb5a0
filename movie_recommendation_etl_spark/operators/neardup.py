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
of B near-identical or identical docs (templated pages, mirrored
boilerplate — the exact corpus shape near-dup exists to clean) would make
the self-join emit B*(B-1)/2 pairs. The *bucket guard* closes that: every
(band_idx, band_hash) bucket larger than ``max_bucket_size`` is logged and
star-joined against its min doc id instead of self-joined — see
``banded_candidate_pairs``. Byte-identical docs share ALL their band hashes,
so the same guard bounds identical-content clusters: their star pairs have
Jaccard exactly 1 and keep the cluster one connected component.
"""

from __future__ import annotations

import logging
from functools import reduce

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


def minhash_signature_cols(base: DataFrame, num_hashes: int = 12) -> DataFrame:
    """(doc_id, sh) -> (doc_id, mh0..mh{n-1}): the raw MinHash signature as
    one long column per hash (the agg shape HashAggregate needs — see
    minhash_bands' docstring). Shared by the banding path above and the
    incremental signature store (operators/incremental_dedup.py), which
    persists signatures so future batches can estimate Jaccard against the
    corpus without its shingles."""
    coeffs = cw_coeffs(num_hashes)
    expl = base.select("doc_id", F.explode("sh").alias("s"))
    # Two-step select so md5 evaluates once per shingle (same-project CSE is
    # codegen-dependent; an explicit intermediate column is guaranteed).
    hashed = expl.select("doc_id", F.md5("s").alias("h")).select(
        "doc_id",
        F.conv(F.col("h").substr(1, 8), 16, 10).cast("long").alias("w1"),
        F.conv(F.col("h").substr(9, 8), 16, 10).cast("long").alias("w2"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("w1") + F.lit(b) * F.col("w2") + F.lit(c))
                % F.lit(CW_P)
            ).alias(f"mh{i}")
            for i, (a, b, c) in enumerate(coeffs)
        ]
    )


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
    checkpoint_dir: str | None = None,
    max_bucket_size: int = 2000,
    stats: dict | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band →
    guarded bucket self-join → exact-Jaccard verify. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= threshold.

    Dup-heavy corpora are the TARGET input of this operator, so the
    quadratic hazard is bounded explicitly (r14 VERDICT #1):
    near-identical docs share band hashes, so they concentrate in band
    buckets; ``banded_candidate_pairs`` star-joins any bucket over
    ``max_bucket_size`` (logged) instead of self-joining it.
    Byte-identical docs share ALL their band hashes, so identical-content
    clusters are bounded by the same guard: their star pairs have Jaccard
    exactly 1.0 and keep the cluster one connected component. Buckets
    UNDER the cap self-join normally — their output, including whole
    identical-content cliques up to the cap, is bit-identical to the
    unguarded join's.

    The (doc_id, shingle-set) frame that three consumers read (the
    signature pass + both sides of the verify join) is persisted —
    measured ~1.6x end-to-end vs recomputing the split/zip_with shingling
    per consumer — and released before return. Its payload is
    O(corpus tokens).

    ``checkpoint_dir`` switches the lineage-truncation points from
    ``localCheckpoint`` (executor blocks; lost with an executor) to
    reliable ``checkpoint()`` on the given HDFS/S3 path — the production
    setting for long jobs; results are identical. The scope helper
    (operators/_checkpoint.py) restores the previous session checkpoint
    dir and deletes this run's checkpoint files once the result is
    detached, so repeated invocations do not leak reliable-storage copies.

    ``stats`` (optional dict) receives the guard's
    ``{"overflow_buckets": n, "max_bucket_size_seen": m}``.
    """
    from movie_recommendation_etl_spark.operators._checkpoint import (
        reliable_checkpoint_scope,
    )
    from movie_recommendation_etl_spark.operators.skew import (
        right_size_materialized,
    )

    with reliable_checkpoint_scope(docs.sparkSession, checkpoint_dir) as ckpt:
        toks = F.split(F.col(text_col), " ")
        # Docs with zero shingles can never pass verify (Jaccard over an
        # empty set is NULL), and at scale they would all share one
        # degenerate LSH bucket — drop them before hashing.
        base_cache = (
            docs.select(
                F.col(id_col).alias("doc_id"), word_shingles(toks, k).alias("sh")
            )
            .filter(F.size("sh") > 0)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # Right-size the shingle frame (r17, the q53 drift cause): it
        # inherits the input's partition count (64 nearly-empty partitions
        # at bench scale) and feeds the signature aggregation plus BOTH
        # verify-join sides — each a per-partition-scheduled stage. The
        # count doubles as the cache materialization; the coalesce is a
        # no-op at real scale (rows/50k >= partitions). unpersist goes
        # through base_cache — calling it on the coalesced wrapper would
        # leak the cache.
        base = right_size_materialized(base_cache)
        # Band-frame persist, tiny payload: (doc_id, 4 band hashes ~ 130
        # bytes/row) — O(docs), not O(corpus); the guard's bucket-size
        # pass and the self-join share its one materialization, and
        # right-sizing drops the per-stage scheduling tax for those three
        # consumers the same way.
        bands_df = minhash_bands(base, num_hashes, rows_per_band).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        exploded, prior_cols = explode_bands_with_priors(
            right_size_materialized(bands_df), -(-num_hashes // rows_per_band)
        )
        # banded_candidate_pairs materializes the (small, O(candidates))
        # pair set through ckpt, so the persisted band frame releases
        # immediately (r2 ADVICE: repeated invocations must not
        # accumulate cached blocks for the session lifetime).
        pairs = banded_candidate_pairs(
            exploded,
            max_bucket_size=max_bucket_size,
            prior_match_cols=prior_cols,
            stats=stats,
            materialize=ckpt,
        )
        bands_df.unpersist()
        # Materialize the (small, O(verified pairs)) result so the
        # O(corpus tokens) shingle cache releases before return.
        verified = ckpt(_verify_pairs(pairs, base, threshold))
        base_cache.unpersist()
        if checkpoint_dir is not None:
            # detach the result onto local blocks BEFORE the scope exit
            # deletes this run's reliable checkpoint files
            verified = verified.localCheckpoint(eager=True)
        return verified


def neardup_dedup(
    docs: DataFrame,
    *,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Fuzzy-dedup stage (r16, VERDICT r15 #4): the standard RefinedWeb/
    Dolma-style pipeline step the reference's similarity machinery exists
    for (reference transform/execute.ipynb:1645-1670 ranks by pairwise
    cosine) — MinHash near-dup pairs → connected components → keep each
    cluster's MIN-ID survivor, drop the other members. ``docs`` has
    ``doc_id`` and ``text`` columns; docs in no cluster pass through
    untouched and the output schema is exactly ``docs``'s.

    Composition, not new machinery: pairs come from the bounded
    :func:`minhash_neardup_pairs` at its defaults (see its docstring for
    the overflow-bucket fragmentation trade) and clusters from
    ``operators.graph.connected_components`` (pointer doubling,
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

    pairs = minhash_neardup_pairs(
        docs, threshold=threshold, checkpoint_dir=checkpoint_dir, stats=stats
    )
    cc_stats: dict = {}
    labels = connected_components(
        pairs.select("doc_a", "doc_b"),
        "doc_a",
        "doc_b",
        checkpoint_dir=checkpoint_dir,
        # verified pairs are distinct with doc_a < doc_b by construction,
        # so CC can skip the symmetrized frame's distinct — one full
        # 2·|pairs| shuffle fewer (r20, guide §2.4)
        edges_distinct=True,
        stats=cc_stats,
    )
    losers = labels.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    if stats is not None:
        stats["cc_rounds"] = cc_stats.get("rounds", 0)
        if "fast_path_edges" in cc_stats:
            stats["fast_path_edges"] = cc_stats["fast_path_edges"]
        stats["neardup_losers"] = losers.count()
    return docs.join(losers, "doc_id", "left_anti")


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
    shingle frame.

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


def srp_candidate_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "emb",
    *,
    dim: int,
    n_bits: int = 96,
    rows_per_band: int = 8,
    max_bucket_size: int = 2000,
    stats: dict | None = None,
) -> DataFrame:
    """(id, label, vec) -> DISTINCT candidate pairs (id_a < id_b) from the
    two-level (label, srp band) blocking — never all-pairs within a label.

    The bands are the deterministic Catalyst expression of
    :func:`srp_bands`, bit-for-bit reproducible in the DuckDB oracle.

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
        srp_bands(
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
