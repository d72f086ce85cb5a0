"""External-DDL generation (SURVEY.md §2.1 S8).

The reference hand-writes PostgreSQL ``CREATE TABLE IF NOT EXISTS`` strings
(incl. a TEXT[] array column) and executes them driver-side via psycopg2
before the JDBC load (reference load/execute.py:25-71). Our engine derives
the DDL from the DataFrame schema instead, so the external table can never
drift from the frame being written; execution stays driver-side (any DB-API
connection), keeping executors out of the DDL business.
"""

from __future__ import annotations

from pyspark.sql import types as T

_PG_TYPES: dict[type, str] = {
    T.ByteType: "SMALLINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "REAL",
    T.DoubleType: "DOUBLE PRECISION",
    T.BooleanType: "BOOLEAN",
    T.StringType: "TEXT",
    T.BinaryType: "BYTEA",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
}


def pg_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"{pg_type(dt.elementType)}[]"
    mapped = _PG_TYPES.get(type(dt))
    if mapped is None:
        raise ValueError(f"no PostgreSQL mapping for Spark type {dt}")
    return mapped


def create_table_ddl(
    schema: T.StructType,
    table: str,
    *,
    primary_key: str | None = None,
    if_not_exists: bool = True,
) -> str:
    """Schema-derived CREATE TABLE (fixes the reference's hand-maintained
    DDL drift risk; keeps its idempotent IF NOT EXISTS semantics)."""
    cols = []
    for f in schema.fields:
        col = f"{f.name} {pg_type(f.dataType)}"
        if not f.nullable:
            col += " NOT NULL"
        if primary_key and f.name == primary_key:
            col += " PRIMARY KEY"
        cols.append(col)
    ine = "IF NOT EXISTS " if if_not_exists else ""
    body = ",\n  ".join(cols)
    return f"CREATE TABLE {ine}{table} (\n  {body}\n)"
