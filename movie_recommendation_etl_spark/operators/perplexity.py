"""Unigram language-model perplexity scoring: the CCNet/RedPajama-style
quality signal — score each document by how surprising its tokens are under
a language model trained on a trusted corpus, then keep the low-perplexity
band. The public recipe uses a KenLM n-gram model; the distributed-friendly
core is the same with a unigram model, which is exactly computable in two
aggregations and is the standard first cut before shipping a heavier LM to
executors.

Spark-first shape:
- MODEL = the trusted corpus's token frequencies: one explode + one hash
  aggregation (map-side combined; vocabulary-sized output, not corpus-
  sized). Add-one smoothing so OOV tokens get a finite penalty.
- SCORING = explode the target corpus's tokens, LEFT join the model table
  on the token (broadcast when the vocabulary fits — the usual case for a
  bounded vocab; a shuffled join on uniform token keys otherwise), and a
  per-document mean of log-probabilities. Two shuffles total at any scale,
  both on uniform keys.

Cross-engine determinism (the q79 oracle gate):
- every log-probability is produced by the ENGINE's ``F.log2`` — including
  the OOV constant, which is computed inside the fit aggregation rather
  than by Python's ``math.log2`` (CPython's libm log2 differs from the JVM
  result in the last ulp on part of this domain; measured);
- the per-document mean accumulates the log2 values through
  DECIMAL(38,18) (functions/numeric.py policy), so the cross-entropy is
  independent of partitioning/shuffle order — the same number on 32 local
  threads or 1000 executors;
- the band cut filters on CROSS-ENTROPY, not perplexity: the kept set is
  identical (2^x is monotone) and it keeps ``pow`` — whose last-ulp
  behavior differs across libms (measured) — out of the decision path.

The reference has no statistical quality filtering; north-star extension.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Decimal type for order-independent accumulation of log2-probabilities:
# |log2p| is bounded by log2(denom) (< 64 for any corpus below 2^64
# tokens), so 20 integer digits are ample and 18 fractional digits exceed
# double precision.
_DEC = "decimal(38,18)"


def fit_unigram_model(
    corpus: DataFrame, *, text_col: str = "text"
) -> tuple[DataFrame, float]:
    """Token -> log2 P(token) over the trusted corpus, add-one smoothed.
    Returns (model_df[token, log2p], oov_log2p) where ``oov_log2p`` is the
    smoothed log-probability charged to tokens never seen in training.
    The model frame is vocabulary-sized — cache or broadcast it. One driver
    action (the totals row, which also evaluates oov_log2p engine-side)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    counts = (
        corpus.select(F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = (
        counts.agg(
            F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("v")
        )
        .select(
            "n",
            "v",
            # the OOV token's log-prob, computed by the SAME engine
            # function that scores vocabulary tokens below — bit-identical
            # smoothing for cnt = 0
            F.log2(
                F.lit(1.0)
                / (F.col("n") + F.col("v") + F.lit(1)).cast("double")
            ).alias("oov_log2p"),
        )
        .first()
    )
    n, v = totals["n"], totals["v"]
    denom = float(n + v + 1)  # +1: the single shared OOV event
    model = counts.select(
        "token",
        (F.log2((F.col("cnt") + 1).cast("double") / F.lit(denom))).alias(
            "log2p"
        ),
    )
    return model, float(totals["oov_log2p"])


def score_perplexity(
    docs: DataFrame,
    model: DataFrame,
    oov_log2p: float,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document unigram cross-entropy and perplexity under ``model``:
    (id_col, n_tokens, n_oov, cross_entropy, perplexity). Lower perplexity
    = more like the trusted corpus. Zero-token docs are dropped (they carry
    no evidence either way — gate them on length instead). The log2p sum
    goes through decimal, so the score is partition-order independent."""
    m = F.broadcast(model) if broadcast_model else model
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    exploded = docs.select(
        F.col(id_col), F.explode(toks).alias("token")
    ).filter(F.col("token") != "")
    joined = exploded.join(m, "token", "left").select(
        id_col,
        F.coalesce(F.col("log2p"), F.lit(float(oov_log2p))).alias("log2p"),
        F.col("log2p").isNull().cast("int").alias("oov"),
    )
    agg = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        (
            -(
                F.sum(F.col("log2p").cast(_DEC)).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
        ).alias("cross_entropy"),
    )
    return agg.withColumn("perplexity", F.pow(F.lit(2.0), "cross_entropy"))


def perplexity_band(
    docs: DataFrame,
    trusted: DataFrame,
    *,
    keep_fraction: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    storage_level: StorageLevel | None = StorageLevel.MEMORY_AND_DISK,
    scores_out: list | None = None,
) -> DataFrame:
    """Score ``docs`` against a model fit on ``trusted`` and return the
    scored rows in the lowest-cross-entropy ``keep_fraction`` band
    (id_col, n_tokens, n_oov, cross_entropy, perplexity) — the CCNet
    head/middle selection. The percentile cut rides the plan as a
    broadcast 1-row frame (no extra driver action); cutting on
    cross-entropy keeps the identical set a perplexity cut would (2^x is
    monotone) without putting ``pow`` doubles in the decision.

    CACHE LIFECYCLE: the plan consumes the doc-sized score frame twice
    (cut + filter), so it is persisted at ``storage_level`` — without it
    each consumer re-runs the token-stream scoring, 2x the cost at 100 TB.
    The cache lives until the session ends or the caller unpersists it:
    one-shot jobs (a trainprep run, the oracle gate) need do nothing, but
    a long-lived driver banding batch after batch should pass
    ``scores_out=[]`` — the persisted frame is appended to it — and call
    ``scores_out[0].unpersist()`` once the band's consumers have run
    (or pass ``storage_level=None`` to trade the leak for the recompute).
    """
    model, oov = fit_unigram_model(trusted, text_col=text_col)
    scores = score_perplexity(
        docs, model, oov, id_col=id_col, text_col=text_col
    )
    if storage_level is not None:
        scores = scores.persist(storage_level)
    if scores_out is not None:
        scores_out.append(scores)
    cut = scores.agg(
        F.percentile("cross_entropy", F.lit(float(keep_fraction))).alias(
            "__cut"
        )
    )
    return (
        scores.join(F.broadcast(cut))
        .filter(F.col("cross_entropy") <= F.col("__cut"))
        .drop("__cut")
    )


def perplexity_filter(
    docs: DataFrame,
    trusted: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_perplexity: float | None = None,
    keep_fraction: float | None = 0.7,
    storage_level: StorageLevel | None = StorageLevel.MEMORY_AND_DISK,
    scores_out: list | None = None,
) -> DataFrame:
    """Keep the docs most like ``trusted``: fit the unigram model on the
    trusted corpus, score ``docs``, and keep either everything under
    ``max_perplexity`` or the lowest-perplexity ``keep_fraction`` (via
    perplexity_band — one driver action total, the model fit).
    ``storage_level``/``scores_out`` pass through to perplexity_band's
    cache-lifecycle contract (only the keep_fraction arm caches — the
    absolute-threshold arm consumes the scores once and needs none)."""
    if (max_perplexity is None) == (keep_fraction is None):
        raise ValueError(
            "pass exactly one of max_perplexity / keep_fraction"
        )
    if max_perplexity is not None:
        model, oov = fit_unigram_model(trusted, text_col=text_col)
        scores = score_perplexity(
            docs, model, oov, id_col=id_col, text_col=text_col
        )
        kept = scores.filter(
            F.col("perplexity") <= float(max_perplexity)
        ).select(id_col, "perplexity")
    else:
        kept = perplexity_band(
            docs,
            trusted,
            keep_fraction=float(keep_fraction),
            id_col=id_col,
            text_col=text_col,
            storage_level=storage_level,
            scores_out=scores_out,
        ).select(id_col, "perplexity")
    return docs.join(kept, id_col)
