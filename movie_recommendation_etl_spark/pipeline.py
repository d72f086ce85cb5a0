"""End-to-end reference-parity pipeline: movies CSV → clean → feature
engineering → TF-IDF → LSH → sinks → recommend(id, k).

This is the Spark-first re-expression of the reference's whole program
surface (extract/transform/load + the notebook's query engine):

- clean       ≙ reference transform/execute.py:43-96   (load_and_clean)
- features    ≙ reference transform/execute.py:99-172  (combine_all_feature_columns)
- nlp/tfidf   ≙ reference transform/execute.py:175-257 (via ml/tfidf.py)
- lsh         ≙ reference transform/execute.py:260-270 (via ml/ann.py)
- sinks       ≙ reference transform/execute.py:273-298 (save_outputs)
- recommend   ≙ reference transform/execute.ipynb:1645-1670

Deliberate divergences (bugs/anti-patterns SURVEY.md says to fix, not copy):
explicit schema instead of inferSchema (2x scan), deterministic dedup
survivor instead of dropDuplicates' arbitrary row, a cache before the
multi-sink fan-out (the reference recomputes its lineage once per sink),
and a seeded LSH. The sinks are unpartitioned parquet, as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movie_recommendation_etl_spark.ml import lemmas
from movie_recommendation_etl_spark.ml.ann import fit_lsh, recommend
from movie_recommendation_etl_spark.ml.tfidf import (
    fit_document_vectors,
    load_default_lemmas,
)
from movie_recommendation_etl_spark.operators.dedup import (
    asc_nulls_last,
    dedup_keep_first,
)
from movie_recommendation_etl_spark.sources.readers import read_csv_robust
from movie_recommendation_etl_spark.sources.writers import (
    save_model,
    write_parquet,
)

# The 14 columns the reference projects from the 42-column Kaggle CSV
# (transform/execute.py:59-74; types from notebook cell 8 output), as
# (name, target type) pairs. The raw scan is header-driven and string-typed:
# Spark binds an explicit CSV schema POSITIONALLY (enforceSchema drops the
# header), so a fixed 14-column StructType against the real 42-column file
# would silently map the first 14 file columns to these names (r2 ADVICE).
# Selecting by header name then casting is one scan and column-count-proof.
MOVIES_COLUMNS: dict[str, T.DataType] = {
    "id": T.IntegerType(),
    "title": T.StringType(),
    "revenue": T.LongType(),
    "budget": T.IntegerType(),
    "overview": T.StringType(),
    "poster_path": T.StringType(),
    "production_companies": T.StringType(),
    "release_year": T.DoubleType(),
    "Director": T.StringType(),
    "Star1": T.StringType(),
    "Star2": T.StringType(),
    "Star3": T.StringType(),
    "genres_list": T.StringType(),
    "all_combined_keywords": T.StringType(),
}

# Kept for callers that already stage the 14-column projection (tests,
# parquet round-trips) — safe there because the column count matches.
MOVIES_RAW_SCHEMA = T.StructType(
    [T.StructField(name, dtype) for name, dtype in MOVIES_COLUMNS.items()]
)

_REQUIRED_COLS = (
    "title",
    "release_year",
    "overview",
    "all_combined_keywords",
    "poster_path",
)
# Exactly the reference's fill list (transform/execute.py:92-94): Director is
# NOT filled — a null-Director row's crews array goes null, so its tags/
# combined string is null and the row dies at the blank-tags filter, same as
# the reference. (Filling it with 'a' kept such rows alive — r2 VERDICT #2.)
_FILL_A_COLS = ("production_companies", "Star1", "Star2", "Star3")
_ARR = T.ArrayType(T.StringType())


def load_movies_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header-driven scan of the raw Kaggle CSV: every column arrives as a
    string named by the header (no inferSchema — that is a second full pass,
    SURVEY.md §1); the 14 reference columns are then selected BY NAME and
    cast. Works identically on the 42-column original and a pre-projected
    14-column staging file; a missing header column fails analysis loudly
    instead of scrambling data."""
    raw = read_csv_robust(spark, path, schema=None)
    missing = [c for c in MOVIES_COLUMNS if c not in raw.columns]
    if missing:
        raise ValueError(
            f"movies CSV at {path} lacks required header columns: {missing}"
        )
    return raw.select(
        *[F.col(name).cast(dtype) for name, dtype in MOVIES_COLUMNS.items()]
    )


def clean(movies: DataFrame) -> DataFrame:
    """Reference load_and_clean (transform/execute.py:43-96): cast, dedup on
    id (deterministic survivor here), drop rows missing required attrs, drop
    the '[]' sentinel, fill nullable dims with 'a' (eliminated later as a
    short/stop token — notebook cell 26)."""
    out = movies.withColumn(
        "release_year", F.col("release_year").cast("integer")
    )
    out = dedup_keep_first(out, ["id"], [asc_nulls_last("title")])
    out = out.na.drop(subset=list(_REQUIRED_COLS))
    out = out.filter(~(F.col("all_combined_keywords") == "[]"))
    out = out.na.fill("a", subset=list(_FILL_A_COLS))
    # from_json failure -> null -> dropped (reference :103-111)
    out = out.withColumn("genres_list", F.from_json("genres_list", _ARR))
    out = out.withColumn(
        "all_combined_keywords", F.from_json("all_combined_keywords", _ARR)
    )
    return out.na.drop(subset=["genres_list", "all_combined_keywords"])


def combine_features(cleaned: DataFrame) -> DataFrame:
    """Reference combine_all_feature_columns (transform/execute.py:99-172):
    split prose/names into arrays, wrap scalars, strip inner whitespace per
    element (HOF — so "Tom Hanks" is the single token "TomHanks"), concat
    into `tags`, and flatten to one space-joined `combined` string.

    Token parity with the reference (r2 VERDICT #2): the whitespace strip
    applies to crews AND all_combined_keywords AND genres_list
    (transform/execute.py:144-156), so "Science Fiction" is the single token
    "ScienceFiction"; overview and title keep their spaces. Concat orders
    match the reference exactly — crews = Star1..3, Director, companies
    (:128-137); tags = title, keywords, genres, overview, crews (:158-167) —
    irrelevant to bag-of-words TF-IDF but it makes the `combined` string
    bit-comparable."""
    df = (
        cleaned.withColumn("director_arr", F.split("Director", ","))
        .withColumn("companies_arr", F.split("production_companies", ","))
        .withColumn("overview_arr", F.split("overview", ","))
        .withColumn("stars_arr", F.array("Star1", "Star2", "Star3"))
        .withColumn("title_arr", F.array("title"))
    )
    strip_ws = lambda arr: F.transform(
        arr, lambda x: F.regexp_replace(x, r"\s+", "")
    )
    crews = F.concat(
        strip_ws(F.col("stars_arr")),
        strip_ws(F.col("director_arr")),
        strip_ws(F.col("companies_arr")),
    )
    tags = F.concat(
        # title_arr deliberately NOT whitespace-stripped: the reference's
        # .py (transform/execute.py:158-167) leaves titles intact while the
        # notebook (execute.ipynb:1010-1013) strips them too — SURVEY §2.9
        # T5 divergence, resolved to the .py (shipped-pipeline) behavior.
        F.col("title_arr"),
        strip_ws(F.col("all_combined_keywords")),
        strip_ws(F.col("genres_list")),
        F.col("overview_arr"),
        crews,
    )
    out = df.withColumn("tags", tags).withColumn(
        "combined", F.concat_ws(" ", F.col("tags"))
    )
    out = out.filter(F.trim("combined") != "")
    return out.drop(
        "director_arr", "companies_arr", "overview_arr", "stars_arr", "title_arr"
    )


def build_features(combined: DataFrame, *, min_df: int = 3):
    """TF-IDF + seeded LSH over the combined tag text. Returns
    (vectors_df cached, lsh_model).

    Every token is lemmatized, the reference's behavior (transform/
    execute.py:198-202 runs the pretrained AntBNC dictionary): the
    dictionary here is the shipped irregular fixture unioned with
    regular-morphology pairs induced from this corpus's own vocabulary
    (ml/lemmas.py — the two public ingredients of a published lemma list).
    Irregulars win collisions.

    ``combined`` is read once: it stays persisted while the lemma
    induction and the TF-IDF fit read it, and is released (unless the
    caller had cached it) once the vectors are materialized."""
    owned = not combined.is_cached
    if owned:
        combined = combined.persist()
    try:
        lemma_map = lemmas.induce_lemma_map(combined, "combined")
        lemma_map.update(load_default_lemmas())
        _, vecs = fit_document_vectors(
            combined, text_col="combined", min_df=min_df, lemma_map=lemma_map
        )
    finally:
        if owned:
            combined.unpersist()
    model = fit_lsh(vecs)
    return vecs, model


def save_outputs(vecs: DataFrame, model, out_dir: str) -> None:
    """The reference's four sinks (transform/execute.py:273-298), written
    unpartitioned as the reference writes them, from ONE cached frame (no
    4x lineage recompute). ``release_year`` stays an integer column: no
    reader in the product path prunes on it, and a partitioned layout
    opens one file per year in every write task."""
    write_parquet(
        vecs.select("id", "title", "poster_path", "release_year"),
        f"{out_dir}/movie_metadata",
    )
    write_parquet(
        vecs.select(
            "id",
            "title",
            "poster_path",
            "revenue",
            "budget",
            "release_year",
            "genres_list",
        ),
        f"{out_dir}/master_table",
    )
    write_parquet(
        vecs.select("id", "norm_features"), f"{out_dir}/vector"
    )
    save_model(model, f"{out_dir}/lsh_model")


def get_recommendations(
    vecs: DataFrame, model, movie_id: int, top_k: int = 5
) -> list[int]:
    """Reference get_recommendations (execute.ipynb:1645-1670): ordered ids,
    nearest first, query id excluded; [] when the id is unknown."""
    out = recommend(model, vecs, "id", movie_id, top_k=top_k)
    return [r["id"] for r in out.collect()]


def run_transform(
    spark: SparkSession, in_csv: str, out_dir: str, *, min_df: int = 3
) -> DataFrame:
    """The full transform stage, CSV → sinks. Returns the cached vectors
    frame for interactive recommend() use."""
    movies = load_movies_csv(spark, in_csv)
    vecs, model = build_features(combine_features(clean(movies)), min_df=min_df)
    save_outputs(vecs, model, out_dir)
    return vecs
