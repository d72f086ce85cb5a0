"""movie_recommendation_etl_spark — a PySpark-native analytics engine.

A from-scratch, DataFrame/Catalyst-first engine covering the full query and
data-processing surface of the reference (Prajwal-Luitel/Movie-Recommendation-ETL,
surveyed in /root/repo/SURVEY.md): the movie ETL + TF-IDF + LSH + ANN-recommend
flagship path, plus the general relational/text/vector/streaming capabilities a
large-scale training-data pipeline needs (joins, windows, dedup, similarity
search, language ID, quality scoring, multimodal plumbing).

Design rules (enforced throughout):
- Declare plans with the DataFrame/SQL API; let Catalyst + AQE pick physical
  strategies. No RDDs in the hot path.
- Built-in ``pyspark.sql.functions`` first; Arrow-batched pandas UDFs only where
  core Spark genuinely cannot express the semantics; row-at-a-time UDFs never.
- Explicit schemas (no inferSchema double scans), broadcast small dims,
  partition big fact tables, keep whole-stage codegen spans wide.
"""

from movie_recommendation_etl_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
