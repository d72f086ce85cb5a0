"""Readers. The robust-CSV dialect mirrors the reference's Kaggle scan
(reference transform/execute.py:48-57: header, quote='"', escape='"',
multiLine, trimmed whitespace) but takes an explicit schema instead of
``inferSchema=True`` — inference is a second full pass over the data
(SURVEY.md §1), unacceptable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv_robust(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """CSV scan with the reference's quoting dialect; every column is a
    string unless ``schema`` is given.

    multiLine=True makes the file non-splittable per record boundary — fine
    for quoted prose columns, but at scale prefer landing data as parquet
    (see writers.write_parquet) and paying this cost once.
    """
    reader = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    columnNameOfCorruptRecord: str | None = None,
) -> DataFrame:
    """JSON-lines scan with a MANDATORY explicit schema — JSON inference is
    an extra full pass AND type-unstable across file subsets (a column that
    happens to hold only integers in the sampled files infers long and then
    corrupts on the first decimal). Line-delimited JSON splits by newline,
    so the scan parallelizes like CSV without multiLine.

    Malformed lines follow Spark's PERMISSIVE mode (nulls), or land in
    ``columnNameOfCorruptRecord`` if given — the same quarantine-don't-crash
    posture as the pipeline's from_json handling (reference
    transform/execute.py:110-111).
    """
    reader = spark.read.schema(schema)
    if columnNameOfCorruptRecord is not None:
        reader = reader.option(
            "columnNameOfCorruptRecord", columnNameOfCorruptRecord
        )
    return reader.json(path)
