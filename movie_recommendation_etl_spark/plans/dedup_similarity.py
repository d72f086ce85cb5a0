"""Near-dup and similarity-search queries (north-star LLM-pipeline ops).

The documents table has no natural duplicates, so the near-dup queries plant
them: each doc gets a twin (doc_id + 1_000_000) whose text drops the last 3
tokens — high-Jaccard pairs the operators must recover.

The MinHash/SimHash oracles replicate the md5-derived hash family exactly
(operators/neardup.py docstring), so even the *approximate* algorithms
hash-compare bit-for-bit: both engines generate, miss, and verify the same
candidate pairs deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.functions.numeric import davg
from movie_recommendation_etl_spark.functions.vectors import (
    cosine,
    dot,
    norm2,
    sql_dot,
    sql_norm2,
)
from movie_recommendation_etl_spark.operators.graph import (
    connected_components,
)
from movie_recommendation_etl_spark.operators.topk import (
    grouped_top_k_two_stage,
)
from movie_recommendation_etl_spark.operators.neardup import (
    CW_P,
    HEX_HIGH,
    cw_coeffs,
    hamming16,
    jaccard,
    minhash_neardup_pairs,
    simhash16,
    srp_candidate_pairs,
    word_shingles,
)
from movie_recommendation_etl_spark.plans.registry import query
from movie_recommendation_etl_spark.sources.catalog import load_table

# Planted-twin corpus: originals plus id-shifted copies with the last 3
# tokens dropped (shared CTE text for the oracles).
_SQL_UNIONED = """
    unioned AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(l[1:len(l)-3], ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    )
"""


def _with_twins(docs: DataFrame) -> DataFrame:
    toks = F.split("text", " ")
    twin_text = F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 3))
    return docs.select("doc_id", "text").unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            twin_text.alias("text"),
        )
    )


# The full MinHash->LSH->verify chain as reusable CTE text (shared by the
# q50 oracle and the q54 cluster-resolution oracle built on top of it).
# The Carter-Wegman coefficients are regenerated from the same md5
# derivation as operators/neardup.cw_coeffs and embedded as list literals;
# the hex->int parse is a strpos fold (DuckDB has no conv(x, 16, 10)).
_CW = cw_coeffs(12)
_SQL_CW_A = "[" + ", ".join(str(a) for a, _, _ in _CW) + "]"
_SQL_CW_B = "[" + ", ".join(str(b) for _, b, _ in _CW) + "]"
_SQL_CW_C = "[" + ", ".join(str(c) for _, _, c in _CW) + "]"


def _sql_hex_word(start: int, width: int = 8) -> str:
    """SQL for parsing ``width`` hex digits of column ``h`` starting at
    ``start`` (1-based) into a BIGINT, by folding digit positions."""
    return (
        f"list_reduce(list_transform(range({start}, {start + width}), i -> "
        "CAST(strpos('0123456789abcdef', substring(h, i, 1)) - 1 AS BIGINT)),"
        " (acc, x) -> acc * 16 + x)"
    )


# DuckDB twin of operators/neardup.shingle_hash60: distinct 60-bit longs
# from the leading 15 hex digits of md5(shingle) — the verify joins
# intersect these instead of raw strings on BOTH engines (r18), so the
# Jaccard values stay bit-identical by construction, collisions included.
_SQL_SHINGLE_HASH60 = (
    "list_distinct(list_transform(list_transform(sh, s -> md5(s)), h -> "
    + _sql_hex_word(1, 15)
    + "))"
)


def sql_minhash_verified_ctes(
    src: str, text_col: str = "text", prefix: str = ""
) -> str:
    """The full MinHash(12)->LSH(4x3)->Jaccard-verify chain (verify over
    60-bit md5-mapped shingles, the Spark side's mapping) as CTE
    text over ``src(doc_id, text_col)``, ending in
    ``{prefix}verified(doc_a, doc_b, jaccard)``. Parametrized (r17) so the
    q80 trainprep oracle can replay the fuzzy-dedup stage over its curated
    CTE with an ``nd`` prefix; q50/q54 use the unprefixed form over the
    planted-twin corpus. The ``len(sh) > 0`` guard mirrors the Spark
    side's empty-shingle drop (zero-shingle docs can never verify, and
    their NULL-ish signatures must not hash into a shared band)."""
    p = prefix
    return f"""{p}base AS MATERIALIZED (
        SELECT doc_id, sh FROM (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM (SELECT doc_id, string_split({text_col}, ' ') AS toks
                  FROM {src})
        ) WHERE len(sh) > 0
    ),
    {p}words AS (
        -- md5 once per shingle (inner transform binds h), then the two
        -- 32-bit words parse from its leading 16 hex digits
        SELECT doc_id, sh,
               list_transform(list_transform(sh, s -> md5(s)), h ->
                   {{'w1': {_sql_hex_word(1)}, 'w2': {_sql_hex_word(9)}}}) AS ws
        FROM {p}base
    ),
    {p}sigs AS (
        SELECT doc_id, sh,
               list_transform(range(1, 13), i ->
                   list_aggregate(list_transform(ws, w ->
                       ({_SQL_CW_A}[i] * w.w1 + {_SQL_CW_B}[i] * w.w2
                        + {_SQL_CW_C}[i]) % {CW_P}), 'min')) AS sig
        FROM {p}words
    ),
    {p}banded AS MATERIALIZED (
        SELECT doc_id, sh,
               list_transform(range(0, 4),
                   j -> md5(array_to_string(sig[j*3+1:j*3+3], '|'))) AS bands
        FROM {p}sigs
    ),
    {p}expl AS (
        SELECT doc_id, t.j AS band_idx, bands[t.j + 1] AS band_hash
        FROM {p}banded CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t
    ),
    {p}pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {p}expl a
        JOIN {p}expl b ON a.band_idx = b.band_idx
                   AND a.band_hash = b.band_hash
                   AND a.doc_id < b.doc_id
    ),
    {p}hashed AS (
        -- the 60-bit md5 shingle mapping the Spark verify join uses
        -- (operators/neardup.shingle_hash60) — longs, not strings
        SELECT doc_id, {_SQL_SHINGLE_HASH60} AS shh FROM {p}banded
    ),
    {p}verified AS MATERIALIZED (
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_filter(x.shh, s -> list_contains(y.shh, s))) AS DOUBLE)
               / CAST(len(x.shh) + len(y.shh)
                      - len(list_filter(x.shh, s -> list_contains(y.shh, s)))
                      AS DOUBLE) AS jaccard
        FROM {p}pairs p
        JOIN {p}hashed x ON p.doc_a = x.doc_id
        JOIN {p}hashed y ON p.doc_b = y.doc_id
    )"""


_SQL_VERIFIED_CTES = f"""{_SQL_UNIONED},
    {sql_minhash_verified_ctes("unioned")}"""


@query(
    "q50_minhash_lsh_neardup",
    oracle=f"""
    WITH {_SQL_VERIFIED_CTES}
    SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.8
    """,
)
def q50_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12 hashes) + LSH(4 bands x 3 rows) + Jaccard verify (over
    60-bit md5-mapped shingle sets — operators/neardup.shingle_hash60;
    equal to raw-string Jaccard up to a ~2^-60/pair collision bound, and
    bit-identical to the oracle, which replays the same mapping) over
    the planted-twin corpus. Never all-pairs, never quadratic-in-a-bucket:
    oversized band buckets (near-identical OR identical clusters share
    band hashes — md5 uniformity only spreads DISTINCT signatures) are
    star-joined under a logged guard
    (operators/neardup.py:banded_candidate_pairs); buckets under the cap
    self-join normally, so on this corpus the guard never fires and the
    output is bit-identical to the unguarded join the oracle replays
    (tests/test_neardup_bounds.py fuzzes that equality)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_neardup_pairs(_with_twins(docs))


# mirrors simhash16: md5 once per token, then fold 16 vote counters over
# the hashed list (list_reduce first-element init == fold-from-zero here:
# zeros + first vote array = first vote array)
def _sql_simhash16(toks: str) -> str:
    return f"""list_reduce(
                   list_transform(
                       list_reduce(
                           list_transform(list_transform({toks}, t -> md5(t)),
                               h -> list_transform(range(1, 17), b ->
                                      CASE WHEN substring(h, b, 1) IN
                                           ('8','9','a','b','c','d','e','f')
                                           THEN 1 ELSE -1 END)),
                           (a, v) -> list_transform(range(1, 17), i -> a[i] + v[i])),
                       v -> CASE WHEN v > 0 THEN 1 ELSE 0 END),
                   (a, x) -> a * 2 + x)"""


@query(
    "q51_twin_similarity_suite",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
               FROM documents),
    tw AS (
        -- the twin's SimHash tokens replay the q50-family round-trip
        -- (truncate -> concat_ws(' ') -> split(' ')), so both engines see
        -- the identical token stream even at the empty-slice edge
        SELECT doc_id, text, toks,
               string_split(array_to_string(toks[1:len(toks)-3], ' '), ' ')
                   AS twin_toks
        FROM t
    ),
    s AS (
        SELECT doc_id, text, twin_toks,
               {_sql_simhash16("toks")} AS simhash_orig,
               {_sql_simhash16("twin_toks")} AS simhash_twin,
               list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS sh_o,
               list_distinct(list_transform(range(1, len(toks) - 4),
                   i -> array_to_string(toks[i:i+2], ' '))) AS sh_t
        FROM tw
    )
    SELECT doc_id,
           simhash_orig,
           simhash_twin,
           CAST(bit_count(xor(simhash_orig, simhash_twin)) AS INTEGER)
               AS hamming,
           CAST(len(list_filter(sh_o, s -> list_contains(sh_t, s))) AS DOUBLE)
           / CAST(len(sh_o) + len(sh_t)
                  - len(list_filter(sh_o, s -> list_contains(sh_t, s)))
                  AS DOUBLE) AS jaccard,
           CAST(len(list_filter(sh_o, s -> list_contains(sh_t, s))) AS DOUBLE)
           / CAST(len(sh_o) + len(sh_t)
                  - len(list_filter(sh_o, s -> list_contains(sh_t, s)))
                  AS DOUBLE) >= 0.8 AS is_neardup,
           CAST(levenshtein(substring(text, 1, 80),
                            substring(array_to_string(twin_toks, ' '), 1, 80))
                AS INTEGER) AS lev_prefix
    FROM s
    """,
)
def q51_twin_similarity_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc similarity metrics against the planted truncated twin, in
    ONE scan (r10 merge of the former q51_simhash_hamming +
    q52_ngram_jaccard_twins — both were narrow single-scan projections
    over the same corpus): 16-bit SimHash of original and twin + Hamming
    distance (locality: near-identical docs land within a few bits), and
    the exact 3-gram Jaccard + near-dup verdict (the ground-truth metric
    the MinHash pipeline approximates), plus (r12) the Levenshtein edit
    distance over capped 80-char prefixes — the fuzzy-string-match
    primitive, bounded because the DP is O(len^2) per row. Signature
    computation is pure scan-stage codegen with zero joins or shuffles —
    at 100 TB this runs at scan speed; the near-dup criterion at scale is
    a self-join on rotated simhash prefixes (constant fanout)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # SimHash twin tokens: round-trip through text like the q50 family
    # (_with_twins) so the empty-slice edge tokenizes identically everywhere
    twin_toks = F.split(
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 3)), " "
    )
    sh_o = word_shingles(toks)
    sh_t = word_shingles(F.slice(toks, 1, F.size(toks) - 3))
    # Edit-distance arm (r12): Levenshtein over CAPPED 80-char prefixes —
    # the DP is O(len^2) per row, so fuzzy matching at scale always runs
    # on bounded keys (titles, prefixes), never whole documents. Spark's
    # levenshtein and DuckDB's share the classic unit-cost definition.
    lev = F.levenshtein(
        F.substring("text", 1, 80),
        F.substring(F.concat_ws(" ", twin_toks), 1, 80),
    )
    s = docs.select(
        "doc_id",
        simhash16(toks).alias("simhash_orig"),
        simhash16(twin_toks).alias("simhash_twin"),
        jaccard(sh_o, sh_t).alias("jaccard"),
        lev.cast("int").alias("lev_prefix"),
    )
    return s.select(
        "doc_id",
        "simhash_orig",
        "simhash_twin",
        hamming16(F.col("simhash_orig"), F.col("simhash_twin")).alias(
            "hamming"
        ),
        "jaccard",
        (F.col("jaccard") >= 0.8).alias("is_neardup"),
        "lev_prefix",
    )


# --- q53: embedding near-dup via (label, SRP-band) blocking ----------------
# The embeddings table has no natural near-dups (within-label cosines top out
# at ~0.48), so the query plants them like q50-q52 do for documents: each
# vector gets a twin (vec_id + 100000, same label) with every coordinate
# scaled by a deterministic md5-chosen factor of 0.9 or 1.1 (cos ~ 0.995).
_Q53_DIM = 64
_Q53_N_BITS = 96
_Q53_ROWS_PER_BAND = 8
_Q53_THRESHOLD = 0.8
_SQL_HIGH = ", ".join(f"'{h}'" for h in ("8", "9", "a", "b", "c", "d", "e", "f"))


@query(
    "q53_embedding_neardup_pairs",
    oracle=f"""
    WITH orig AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ),
    twin AS (
        SELECT o.vec_id + 100000 AS vec_id, o.label,
               list_transform(range(1, {_Q53_DIM} + 1), i -> o.emb[i] *
                   (CASE WHEN substring(md5('t:' || o.vec_id || ':' || (i - 1)), 1, 1)
                              IN ({_SQL_HIGH})
                         THEN 1.1 ELSE 0.9 END)) AS emb
        FROM orig o
    ),
    unioned AS (
        SELECT * FROM orig UNION ALL SELECT * FROM twin
    ),
    e AS (
        SELECT vec_id, label, emb, {sql_norm2("emb")} AS nrm FROM unioned
    ),
    bits AS (
        SELECT vec_id, label, hs.h AS h,
               CASE WHEN list_aggregate(list_transform(range(1, {_Q53_DIM} + 1), i ->
                        e.emb[i] * (CASE WHEN substring(md5(hs.h || ':' || (i - 1)), 1, 1)
                                              IN ({_SQL_HIGH})
                                         THEN 1.0 ELSE -1.0 END)), 'sum') > 0
                    THEN 1 ELSE 0 END AS bit
        FROM e CROSS JOIN (SELECT unnest(range(0, {_Q53_N_BITS})) AS h) hs
    ),
    banded AS (
        SELECT vec_id, label, CAST(h // {_Q53_ROWS_PER_BAND} AS INTEGER) AS band_idx,
               list_reduce(list(bit ORDER BY h), (a, x) -> a * 2 + x) AS band_val
        FROM bits
        GROUP BY vec_id, label, h // {_Q53_ROWS_PER_BAND}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM banded a
        JOIN banded b ON a.label = b.label AND a.band_idx = b.band_idx
                     AND a.band_val = b.band_val AND a.vec_id < b.vec_id
    ),
    verified AS (
        SELECT c.vec_a, c.vec_b,
               {sql_dot("x.emb", "y.emb")} / (x.nrm * y.nrm) AS cosine_sim
        FROM cand c
        JOIN e x ON x.vec_id = c.vec_a
        JOIN e y ON y.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, cosine_sim FROM verified
    WHERE cosine_sim >= {_Q53_THRESHOLD}
    """,
)
def q53_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with TWO-LEVEL blocking: label x SRP band
    (signed-random-projection LSH, md5-derived Rademacher hyperplanes both
    engines regenerate). Candidates come from the (label, band_idx, band_val)
    equi-join — a coarse label is no longer a quadratic block (the r2 scale
    audit finding): unrelated pairs collide per band at ~(1/2)^8, so
    candidate volume stays near-linear while twin pairs (cos ~ 0.995) match
    a band with probability ~1 (miss ~ 1e-8 at 12 bands x 8 bits).

    The verify threshold moved from 0.3 to 0.8 with the planted twins: SRP
    banding CANNOT prune at tau=0.3 (P[bit]=1-angle/pi gives rho ~ 0.75;
    >=95% recall there admits ~75% of random pairs — no banding scheme
    beats the exact all-pairs join the old query used). Near-dup detection
    operates at high cosine, where the pruning is ~20x and recall is ~1;
    tests/test_neardup_similarity.py asserts both against the exact oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    orig = emb.select("vec_id", "label", as_double.alias("emb"))
    twin_emb = F.transform(
        as_double,
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
    # Two selects: twin_emb's md5 key must see the ORIGINAL vec_id. In one
    # select, Spark's lateral column alias resolution would bind the
    # `vec_id` inside the lambda to the earlier `vec_id + 100000` alias —
    # silently hashing the shifted id (caught by the oracle gate).
    twins = emb.select("vec_id", "label", twin_emb.alias("emb")).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label", "emb"
    )
    # Persist e: the twin md5 expression + norms feed three consumers
    # (banding, and both sides of the verify join) — without the cache each
    # re-evaluates 64 md5 calls/row. Payload is O(rows)·dim doubles.
    e = (
        orig.unionByName(twins)
        .withColumn("nrm", norm2("emb"))
        .persist()
    )
    cand = srp_candidate_pairs(
        e,
        "vec_id",
        "label",
        "emb",
        dim=_Q53_DIM,
        n_bits=_Q53_N_BITS,
        rows_per_band=_Q53_ROWS_PER_BAND,
    )
    x = e.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    y = e.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    verified = (
        cand.join(x, "vec_id_a")
        .join(y, "vec_id_b")
        .select(
            F.col("vec_id_a").alias("vec_a"),
            F.col("vec_id_b").alias("vec_b"),
            (dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))).alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= _Q53_THRESHOLD)
        # Materialize the (small, O(near-dup pairs)) result so e's cache can
        # be released before returning — same no-leak discipline as the band
        # frame inside srp_candidate_pairs.
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    return verified


@query(
    "q54_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_VERIFIED_CTES},
    good AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.8),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM good
        UNION
        SELECT doc_b AS a, doc_a AS b FROM good
    ),
    reach(node, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    """,
)
def q54_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution over the q50 near-dup pairs: connected components
    (min-label propagation, operators/graph.py) so transitive duplicates
    land in one cluster keyed by the minimum doc_id — the step that turns
    PAIRS into a deduplication decision. The oracle replays the exact
    closure with a recursive CTE, so even the iterative algorithm is
    hash-compared bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_neardup_pairs(_with_twins(docs)).select("doc_a", "doc_b")
    # verified pairs are distinct with doc_a < doc_b, so CC skips the
    # symmetrized frame's redundant distinct (r20, guide §2.4)
    return connected_components(
        pairs, "doc_a", "doc_b", edges_distinct=True
    ).select(F.col("node").alias("doc_id"), "cluster_id")


@query(
    "q63_embedding_outliers",
    oracle="""
    WITH expl0 AS (
        SELECT label, embedding,
               unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings
    ),
    expl AS (
        SELECT label, dim, CAST(embedding[dim] AS DOUBLE) AS val FROM expl0
    ),
    mean AS (
        SELECT label, dim,
               CAST(SUM(CAST(val AS DECIMAL(38,8))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mean
        FROM expl GROUP BY 1, 2
    ),
    cent AS (
        SELECT label, list(mean ORDER BY dim) AS centroid
        FROM mean GROUP BY label
    ),
    d AS (
        SELECT e.vec_id, e.label,
               sqrt(list_aggregate(list_transform(
                   range(1, len(e.embedding) + 1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])),
                   'sum')) AS dist
        FROM embeddings e JOIN cent c USING (label)
    ),
    r AS (
        SELECT label, vec_id, dist,
               row_number() OVER (PARTITION BY label
                                  ORDER BY dist DESC, vec_id) AS rnk
        FROM d
    )
    SELECT label, vec_id, CAST(rnk AS INTEGER) AS rnk, dist
    FROM r WHERE rnk <= 10
    """,
)
def q63_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection (curation op): per-label centroid via
    grouped vector pooling, then each vector's L2 distance to its own
    centroid, top-10 farthest per label — the rows a quality filter would
    drop or audit.

    Determinism: per-dimension means use decimal-exact accumulation
    (order-independent); the per-vector distance folds squared diffs in
    DIMENSION order — a fixed sequence, so Spark's F.aggregate and DuckDB's
    list_aggregate produce bit-identical doubles; sqrt/sub/mul are IEEE
    correctly rounded.

    Scale shape: pooling is one explode + map-side-combined agg shuffling
    only (label, dim) partials; centroids (labels x dims) broadcast; the
    distance pass is scan-stage-only. Top-k per label is the TWO-STAGE form
    (r16): labels are LOW-cardinality, and a single window partition per
    label cannot be split — one straggler reducer per label at 100 TB; the
    salted stage fans the big shuffle over 64 cells per label and stage 2
    ranks the bounded survivors (output-identical, operators/topk.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label", F.posexplode("embedding").alias("pos", "valf")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    mean = expl.groupBy("label", "dim").agg(davg(F.col("val"), 8).alias("mean"))
    cent = mean.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s["mean"],
        ).alias("centroid")
    )
    j = emb.join(F.broadcast(cent), "label")
    sq = F.zip_with(
        F.col("embedding").cast("array<double>"),
        F.col("centroid"),
        lambda a, b: (a - b) * (a - b),
    )
    d = j.select(
        "label",
        "vec_id",
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)).alias(
            "dist"
        ),
    )
    return grouped_top_k_two_stage(
        d,
        ["label"],
        [F.col("dist").desc(), F.col("vec_id")],
        10,
        salt_cols=["vec_id"],
        rank_col="rnk",
    ).select("label", "vec_id", "rnk", "dist")


@query(
    "q60_knn_bruteforce",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding, {sql_norm2("embedding")} AS nrm
        FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < 20),
    p AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               {sql_dot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)
                   AS cosine_sim
        FROM q JOIN e ON e.vec_id <> q.vec_id
    ),
    r AS (
        SELECT query_id, neighbor_id, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, neighbor_id) AS rnk
        FROM p
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cosine_sim
    FROM r WHERE rnk <= 5
    """,
)
def q60_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 20 query vectors — the exact baseline
    the LSH/ANN paths (q61/q70) are measured against. The tiny query side is
    broadcast; per query the scan is embarrassingly parallel and the top-k
    resolves in a window over ~|dataset| rows per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "embedding", norm2("embedding").alias("nrm"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    pairs = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", "cosine_sim")
    )
