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
- M8 CountVectorizer      → CountVectorizer(minDF=3)
- M9 IDF                  → IDF(minDocFreq=3)
- M10 L2 normalize        → Normalizer(p=2.0) (so Euclidean LSH distance is
                            a monotone function of cosine distance)

Scale notes: the fits are distributed aggregations (vocabulary/DF counts);
the fitted vocabulary is collected once to the driver and broadcast into the
transform closures — the vocabulary is capped at the reference's implicit
2^18 default so that broadcast stays ~tens of MiB (the reference's 35.6 MiB
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
    Normalizer,
    RegexTokenizer,
    StopWordsRemover,
)
from pyspark.ml.param import Param, Params
from pyspark.ml.param.shared import HasInputCol, HasOutputCol
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Small English lemma dictionary fixture (common irregular inflections —
# standard dictionary facts, no external dataset). Stands in for the
# reference's pretrained AntBNC dictionary (transform/execute.py:198-202),
# which is a Spark-NLP artifact this engine does not depend on.
_LEMMA_FIXTURE = Path(__file__).with_name("lemmas_en_small.json")


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


def build_tfidf_pipeline(
    text_col: str = "text",
    output_col: str = "norm_features",
    *,
    min_df: int = 3,
    min_doc_freq: int = 3,
    lemma_map: dict[str, str] | None = None,
) -> Pipeline:
    """The core-Spark TF-IDF pipeline. Parameters default to the
    reference's (minDF=3 transform/execute.py:243, minDocFreq=3 :248,
    2^18 vocab cell-61 output, p=2.0 :253).

    ``lemma_map`` adds the M4 BroadcastLemmatizer stage between tokenizer
    and stopword removal, the reference's annotator order (:184-218:
    Tokenizer → Normalizer → Lemmatizer → StopWordsCleaner; :198-202 runs
    AntBNC on every token). Default None: no lemma stage; pass
    ``load_default_lemmas()`` for the shipped fixture."""
    tokenizer = RegexTokenizer(
        inputCol=text_col,
        outputCol="__tokens",
        pattern="\\W+",
        toLowercase=True,
    )
    stages: list = [tokenizer]
    stop_input = "__tokens"
    if lemma_map:
        stages.append(BroadcastLemmatizer(lemma_map))
        stop_input = "__lemmas"
    stopper = StopWordsRemover(
        inputCol=stop_input, outputCol="__clean_tokens", caseSensitive=False
    )
    cv = CountVectorizer(
        inputCol="__clean_tokens",
        outputCol="__raw_features",
        minDF=float(min_df),
        vocabSize=1 << 18,
    )
    idf = IDF(
        inputCol="__raw_features",
        outputCol="__tfidf_features",
        minDocFreq=min_doc_freq,
    )
    l2 = Normalizer(inputCol="__tfidf_features", outputCol=output_col, p=2.0)
    stages += [stopper, cv, idf, l2]
    return Pipeline(stages=stages)


def fit_document_vectors(
    docs: DataFrame,
    text_col: str = "text",
    output_col: str = "norm_features",
    **kwargs,
) -> tuple[PipelineModel, DataFrame]:
    """Fit + transform; returns (model, docs ⊕ norm_features) with the
    intermediate columns dropped, persisted and materialized (unpersist it
    when done).

    One pass over ``docs``: the token stages (tokenize, lemmatize, stop)
    run once into a persisted token frame that the CountVectorizer fit,
    the IDF fit and the output all read; it is released once the output
    is materialized. The vocabulary is renumbered in sorted term order
    before the IDF fit, because CountVectorizer orders equal-count terms by
    how its input happens to be partitioned: without it every vector
    index and every LSH bucket would move with the plan or the partition
    count."""
    *token_stages, cv, idf, l2 = build_tfidf_pipeline(
        text_col, output_col, **kwargs
    ).getStages()
    toks = PipelineModel(token_stages).transform(docs).persist()
    try:
        fitted = cv.fit(toks)
        counts = CountVectorizerModel.from_vocabulary(
            sorted(fitted.vocabulary),
            inputCol=fitted.getInputCol(),
            outputCol=fitted.getOutputCol(),
            minTF=fitted.getMinTF(),
            binary=fitted.getBinary(),
        )
        counted = counts.transform(toks)
        idf_model = idf.fit(counted)
        model = PipelineModel([*token_stages, counts, idf_model, l2])
        vecs = l2.transform(idf_model.transform(counted))
        vecs = _drop_intermediates(vecs).persist()
        vecs.count()
    finally:
        toks.unpersist()
    return model, vecs


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

