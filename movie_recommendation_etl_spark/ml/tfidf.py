"""TF-IDF document-vector pipeline (reference transform/execute.py:175-257).

The reference uses Spark-NLP annotators (DocumentAssembler/Tokenizer/
Normalizer/Lemmatizer/StopWordsCleaner/Finisher, :184-218) feeding MLlib
CountVectorizer → IDF → Normalizer. Spark-NLP is an external JVM package; the
core-Spark formulation below reproduces the same vector semantics with
built-in stages (SURVEY.md §2.10 mapping M1-M10):

- M1/M6 (document assembly/finishing) — not needed; columns stay columns.
- M2 Tokenizer            → RegexTokenizer(pattern=\\W+, lowercase)
- M3 Normalizer           → the tokenizer's lowercase + non-word splitting
- M4 Lemmatizer           → BroadcastLemmatizer: a dictionary lookup per
                            token through a broadcast dict (Arrow pandas_udf);
                            runs when a lemma map is given, which
                            pipeline.build_features always does
- M5 StopWordsCleaner     → StopWordsRemover(caseSensitive=False)
- M8 CountVectorizer      → minDF=3, fitted by fit_document_vectors from one
                            term-statistics aggregation into a
                            CountVectorizerModel (build_tfidf_pipeline keeps
                            the MLlib estimator as the reference formulation)
- M9 IDF                  → minDocFreq=3 weights log((m+1)/(df+1)) from the
                            same aggregation, applied by ElementwiseProduct
- M10 L2 normalize        → Normalizer(p=2.0) (so Euclidean LSH distance is
                            a monotone function of cosine distance)

Scale notes: the fit is one distributed aggregation (document frequency
and total count per term, plus the document count) collected to the
driver, one row per distinct term — the same driver bound as the lemma
induction's token counts (ml/lemmas.py). The vocabulary is capped at the
reference's implicit 2^18 so the CountVectorizerModel broadcast into the
transform closures stays ~tens of MiB (the reference's 35.6 MiB
task-binary warnings, SURVEY §4).
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
from pyspark.ml import Pipeline, PipelineModel, Transformer
from pyspark.ml.feature import (
    IDF,
    CountVectorizer,
    CountVectorizerModel,
    ElementwiseProduct,
    Normalizer,
    RegexTokenizer,
    StopWordsRemover,
)
from pyspark.ml.linalg import Vectors
from pyspark.ml.param import Param, Params
from pyspark.ml.param.shared import HasInputCol, HasOutputCol
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movie_recommendation_etl_spark.ml import lemmas

# Small English lemma dictionary fixture (common irregular inflections —
# standard dictionary facts, no external dataset). Stands in for the
# reference's pretrained AntBNC dictionary (transform/execute.py:198-202),
# which is a Spark-NLP artifact this engine does not depend on.
_LEMMA_FIXTURE = Path(__file__).with_name("lemmas_en_small.json")

# CountVectorizer's default vocabSize, the reference's implicit cap
# (cell-61 output)
VOCAB_CAP = 1 << 18


def load_default_lemmas() -> dict[str, str]:
    """The shipped lemma fixture as {inflected: lemma}."""
    return json.loads(_LEMMA_FIXTURE.read_text())


class BroadcastLemmatizer(
    Transformer,
    HasInputCol,
    HasOutputCol,
    DefaultParamsReadable,
    DefaultParamsWritable,
):
    """M4: every token maps through the lemma dictionary (miss → token
    unchanged), the reference's AntBNC lookup (transform/execute.py:
    198-202). The dict ships to executors once per SparkContext as a
    broadcast variable and tokens map through it in an Arrow-batched
    pandas_udf, so the plan stays O(1) in dictionary size, lookup is a
    hash probe per token, and the stage runs in the scan stage (no
    shuffle). The map is a Param, so the stage saves and loads with the
    PipelineModel like any other."""

    lemmaMap = Param(
        Params._dummy(),
        "lemmaMap",
        "inflected token -> lemma; tokens not in the map pass through",
        typeConverter=dict,
    )

    def __init__(
        self,
        lemma_map: dict[str, str] | None = None,
        input_col: str = "__tokens",
        output_col: str = "__lemmas",
    ):
        super().__init__()
        self._set(
            lemmaMap=lemma_map or {}, inputCol=input_col, outputCol=output_col
        )
        # (map, broadcast) of the last transform: one broadcast per
        # SparkContext and map, reused across calls
        self._bc = None

    def _transform(self, dataset: DataFrame) -> DataFrame:
        lemma_map = self.getOrDefault(self.lemmaMap)
        sc = dataset.sparkSession.sparkContext
        if (
            self._bc is None
            or self._bc[0] is not lemma_map
            or self._bc[1]._jbroadcast is None
        ):
            self._bc = (lemma_map, sc.broadcast(lemma_map))
        bc = self._bc[1]

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def _lem(tokens: pd.Series) -> pd.Series:
            m = bc.value
            return tokens.apply(
                lambda ts: [m.get(t, t) for t in ts]
                if ts is not None
                else None
            )

        return dataset.withColumn(
            self.getOutputCol(), _lem(F.col(self.getInputCol()))
        )


def _tokenizer(text_col: str) -> RegexTokenizer:
    return RegexTokenizer(
        inputCol=text_col,
        outputCol="__tokens",
        pattern="\\W+",
        toLowercase=True,
    )


def _stopper(input_col: str) -> StopWordsRemover:
    return StopWordsRemover(
        inputCol=input_col, outputCol="__clean_tokens", caseSensitive=False
    )


def build_tfidf_pipeline(
    text_col: str = "text",
    output_col: str = "norm_features",
    *,
    min_df: int = 3,
    min_doc_freq: int = 3,
    lemma_map: dict[str, str] | None = None,
) -> Pipeline:
    """The MLlib-estimator formulation of the TF-IDF pipeline, the
    reference that fit_document_vectors is tested against. Parameters
    default to the reference's (minDF=3 transform/execute.py:243,
    minDocFreq=3 :248, 2^18 vocab cell-61 output, p=2.0 :253).

    ``lemma_map`` adds the M4 BroadcastLemmatizer stage between tokenizer
    and stopword removal, the reference's annotator order (:184-218:
    Tokenizer → Normalizer → Lemmatizer → StopWordsCleaner; :198-202 runs
    AntBNC on every token). Default None: no lemma stage; pass
    ``load_default_lemmas()`` for the shipped fixture."""
    stages: list = [_tokenizer(text_col)]
    if lemma_map:
        stages.append(BroadcastLemmatizer(lemma_map))
    cv = CountVectorizer(
        inputCol="__clean_tokens",
        outputCol="__raw_features",
        minDF=float(min_df),
        vocabSize=VOCAB_CAP,
    )
    idf = IDF(
        inputCol="__raw_features",
        outputCol="__tfidf_features",
        minDocFreq=min_doc_freq,
    )
    l2 = Normalizer(inputCol="__tfidf_features", outputCol=output_col, p=2.0)
    stages += [_stopper(stages[-1].getOutputCol()), cv, idf, l2]
    return Pipeline(stages=stages)


def fit_document_vectors(
    docs: DataFrame,
    text_col: str = "text",
    output_col: str = "norm_features",
    *,
    min_df: int = 3,
    min_doc_freq: int = 3,
    lemma_map: dict[str, str] | None = None,
) -> tuple[PipelineModel, DataFrame]:
    """Fit + transform; returns (model, docs ⊕ norm_features) with the
    intermediate columns dropped, persisted and materialized (unpersist it
    when done). The model is the PipelineModel of build_tfidf_pipeline's
    stages, with the CountVectorizerModel at the same index and the IDF
    weights applied by an ElementwiseProduct.

    Given a ``lemma_map``, the lemma stage maps through that map unioned
    over the one ml/lemmas.py induces from ``docs``' own tokens; the given
    map wins collisions. Without one there is no lemma stage.

    The text is tokenized once, into a persisted frame that the lemma
    induction counts and the lemma and stop-word stages read; their output
    is a second persisted frame that one aggregation and the output read.
    That aggregation replaces the CountVectorizer and IDF fits: it yields
    each term's document frequency and total count, and the document
    count, and the driver takes from it what the two estimators would
    (``_vocabulary_and_idf``). The vocabulary is in sorted term order, so
    no vector index or LSH bucket moves with the plan or the partition
    count."""
    tokenizer = _tokenizer(text_col)
    toks = tokenizer.transform(docs).persist()
    try:
        stages: list = [tokenizer]
        if lemma_map is not None:
            induced = lemmas.induce_lemma_map(toks, "__tokens")
            stages.append(BroadcastLemmatizer({**induced, **lemma_map}))
        stages.append(_stopper(stages[-1].getOutputCol()))
        clean = (
            PipelineModel(stages[1:])
            .transform(toks)
            .drop("__tokens", "__lemmas")
            .persist()
        )
        try:
            vocab, idf = _vocabulary_and_idf(clean, min_df, min_doc_freq)
            # the aggregation filled clean; nothing reads toks again
            toks.unpersist()
            counts = CountVectorizerModel.from_vocabulary(
                vocab, inputCol="__clean_tokens", outputCol="__raw_features"
            )
            weigh = ElementwiseProduct(
                scalingVec=Vectors.dense(idf),
                inputCol="__raw_features",
                outputCol="__tfidf_features",
            )
            l2 = Normalizer(
                inputCol="__tfidf_features", outputCol=output_col, p=2.0
            )
            vecs = PipelineModel([counts, weigh, l2]).transform(clean)
            vecs = _drop_intermediates(vecs).persist()
            vecs.count()
        finally:
            clean.unpersist()
    finally:
        toks.unpersist()
    return PipelineModel([*stages, counts, weigh, l2]), vecs


def _vocabulary_and_idf(
    tokens: DataFrame, min_df: int, min_doc_freq: int
) -> tuple[list[str], list[float]]:
    """What CountVectorizer(minDF=min_df, vocabSize=VOCAB_CAP).fit and
    IDF(minDocFreq=min_doc_freq).fit on its counts compute from the
    ``__clean_tokens`` column, from one aggregation: the terms with
    document frequency ≥ min_df (over the cap, the VOCAB_CAP most frequent
    by total count, ties broken by term), sorted, and their weights
    log((m + 1) / (df + 1)), 0 below min_doc_freq, for m documents.

    Each document's tokens are sorted, so a position starts a new term
    exactly when the token before it differs; each document has exactly
    one row at position 0, and an empty one a single row with neither
    position nor term. The weight is computed in the JVM with the
    java.lang.Math.log that IDF uses: Python's math.log differs from it in
    the last bit for ≈0.1% of (m, df) pairs."""
    sorted_toks = F.array_sort("__clean_tokens")
    # every term row sees m, the sum over all rows
    m = F.sum("docs").over(Window.partitionBy())
    ratio = (m + 1.0) / (F.col("df") + 1.0)
    log = F.reflect(F.lit("java.lang.Math"), F.lit("log"), ratio)
    rows = (
        tokens.select(sorted_toks.alias("s"))
        .select("s", F.posexplode_outer("s").alias("pos", "term"))
        .groupBy("term")
        .agg(
            F.count_if(
                ~F.get("s", F.col("pos") - 1).eqNullSafe(F.col("term"))
            ).alias("df"),
            F.count("pos").alias("tf"),
            F.count_if(F.ifnull("pos", F.lit(0)) == 0).alias("docs"),
        )
        .select(
            "term",
            "df",
            "tf",
            F.when(F.col("df") >= min_doc_freq, log.cast("double"))
            .otherwise(0.0)
            .alias("idf"),
        )
        .filter(F.col("term").isNotNull() & (F.col("df") >= min_df))
        .collect()
    )
    if len(rows) > VOCAB_CAP:
        rows = sorted(rows, key=lambda r: (-r["tf"], r["term"]))[:VOCAB_CAP]
    if not rows:
        # CountVectorizer.fit only logs this and fits an empty vocabulary,
        # whose zero-length vectors every LSH bucket and distance then
        # treats as one point
        raise ValueError(
            f"The vocabulary size is empty: no term is in {min_df} or more "
            "documents. Lower min_df."
        )
    rows = sorted(rows, key=lambda r: r["term"])
    return [r["term"] for r in rows], [r["idf"] for r in rows]


def transform_document_vectors(
    model: PipelineModel, docs: DataFrame
) -> DataFrame:
    """Apply an already-fitted pipeline to NEW documents (vocabulary and
    idf stay frozen — the incremental-ingest semantics: terms unseen at fit
    time vectorize to nothing rather than shifting every existing vector).
    Same column contract as fit_document_vectors' second return."""
    return _drop_intermediates(model.transform(docs))


def _drop_intermediates(df: DataFrame) -> DataFrame:
    return df.drop(
        "__tokens", "__lemmas", "__clean_tokens", "__raw_features",
        "__tfidf_features",
    )

