"""Deduplication operators.

The reference deduplicates with ``dropDuplicates(["id"])`` (reference
transform/execute.py:80) — arbitrary survivor, nondeterministic under
re-partitioning. Our engine's exact dedup picks a *deterministic* survivor
(SURVEY.md §2.5 A3) so goldens are stable across cluster sizes.
Near-duplicate detection (MinHash/SimHash) lives in operators/neardup.py.

Scale note (r16): the survivor pick is a ``min_by`` aggregate, NOT a
``row_number()`` window. A window partitioned on the dedup key serializes a
viral identical document (the exact corpus shape exact-dedup exists for — one
boilerplate page duplicated 10^7 times) into a single task that sorts all the
copies: AQE splits skewed *join* partitions, never *window* partitions. The
aggregate form is map-side combinable — every input partition pre-reduces its
share of a hot key to one candidate row before the shuffle, so the hot key
costs O(copies / input-partitions) per task and the final reduce sees at most
one row per (key, upstream partition).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SortSpec(NamedTuple):
    """One ordering term for :func:`dedup_keep_first`.

    ``nulls_last=None`` follows the SQL/window default for the direction:
    NULLS FIRST when ascending, NULLS LAST when descending.
    """

    col: Union[Column, str]
    descending: bool = False
    nulls_last: Union[bool, None] = None


def asc(col: Union[Column, str]) -> SortSpec:
    return SortSpec(col, descending=False)


def asc_nulls_last(col: Union[Column, str]) -> SortSpec:
    return SortSpec(col, descending=False, nulls_last=True)


def desc(col: Union[Column, str]) -> SortSpec:
    return SortSpec(col, descending=True)


_INVERTIBLE_INT = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _order_key(c: Column, dt: T.DataType, spec: SortSpec) -> Column:
    """An expression whose *ascending* order equals the spec's order on ``c``.

    Ascending specs pass through. Descending specs apply a strictly
    order-reversing, overflow-free transform: ``~x`` (bitwise not) for
    integral/date/timestamp/boolean (``~x = -x-1`` — monotone decreasing and
    safe at Long.MIN_VALUE, where ANSI negation would throw), ``-x`` for
    float/double (NaN is handled by a separate flag field — see the caller —
    because ``-NaN`` stays NaN, which Spark orders LARGEST; without the flag a
    descending spec would rank NaN last, while the window form and the
    merge_upsert fallback rank it first). Strings and other types have no such
    transform — callers needing DESC on those should pre-compute an invertible
    surrogate column.
    """
    if not spec.descending:
        return c
    if isinstance(dt, _INVERTIBLE_INT):
        return F.bitwise_not(c)
    if isinstance(dt, T.BooleanType):
        return ~c
    if isinstance(dt, T.DateType):
        return F.bitwise_not(F.unix_date(c))
    if isinstance(dt, T.TimestampType):
        return F.bitwise_not(F.unix_micros(c))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return -c
    raise ValueError(
        f"dedup_keep_first: descending order on type {dt.simpleString()} has "
        "no overflow-free inversion; pre-compute an invertible surrogate "
        "column (e.g. a numeric rank) and order on that instead."
    )


def _is_sort_order(col: Column) -> bool:
    """True when ``col`` wraps a Catalyst/Connect SortOrder expression (the
    result of ``.asc()``/``.desc()``), which cannot be embedded in an
    aggregate. Checks the underlying expression class where available (r17,
    ADVICE fix — the ``" NULLS "`` repr substring is not a stable API and
    differs under Spark Connect); the repr check stays as a last resort."""
    try:  # classic: JVM Column -> Catalyst expression class
        if col._jc.expr().getClass().getSimpleName() == "SortOrder":
            return True
    except Exception:
        pass
    try:  # Spark Connect: python-side expression tree
        if type(col._expr).__name__ == "SortOrder":
            return True
    except Exception:
        pass
    return " NULLS " in str(col)


_SORT_ORDER_HINT = (
    "pass operators.dedup.asc()/desc()/asc_nulls_last() specs (or a plain "
    "Column for ascending, nulls first) instead of .asc()/.desc() Columns."
)


def _normalize(order_by: Sequence[Union[SortSpec, Column, str]]) -> list[SortSpec]:
    specs: list[SortSpec] = []
    for item in order_by:
        if isinstance(item, SortSpec):
            specs.append(item)
        elif isinstance(item, (Column, str)):
            if isinstance(item, Column) and _is_sort_order(item):
                # A SortOrder Column from .asc()/.desc() — the pre-r16 window
                # API. It cannot be embedded in an aggregate expression; point
                # the caller at the spec helpers instead of mis-ordering.
                raise TypeError(
                    f"dedup_keep_first: got sort-order Column {item}; "
                    + _SORT_ORDER_HINT
                )
            specs.append(SortSpec(item))
        else:
            raise TypeError(f"dedup_keep_first: bad order term {item!r}")
    if not specs:
        raise ValueError("dedup_keep_first: order_by must be non-empty")
    return specs


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Union[SortSpec, Column, str]],
) -> DataFrame:
    """Keep exactly one row per key, chosen by the ordering given.

    ``order_by`` terms are :class:`SortSpec` (see :func:`asc`,
    :func:`asc_nulls_last`, :func:`desc`) or plain Columns/names meaning
    *ascending, nulls first* (the SQL window default). The survivor is
    deterministic when the ordering is total within each key group (same
    contract as the previous ``row_number`` form — ties break arbitrarily).

    Plan shape: ONE hash shuffle on ``keys`` into a partial-aggregatable
    ``min_by(payload, order_struct)`` — map-side combine pre-reduces hot keys
    on every input partition, so a viral duplicate (10^7 copies of one
    fingerprint) never funnels into a single sorting task the way a
    ``row_number`` window would (AQE cannot split window partitions).
    """
    specs = _normalize(order_by)
    key_set = set(keys)
    payload = [c for c in df.columns if c not in key_set]
    if not payload:
        # Nothing besides the keys: every survivor candidate is identical.
        return df.dropDuplicates(list(keys))

    fields: list[Column] = []
    for i, spec in enumerate(specs):
        c = spec.col if isinstance(spec.col, Column) else F.col(spec.col)
        try:
            dt = df.select(c.alias("__t")).schema[0].dataType
        except Exception as e:
            # Second line of defense for a SortOrder that slipped past
            # _is_sort_order (the class check is best-effort across
            # classic/Connect): the dtype probe is the first place such a
            # column fails analysis, so convert the opaque error into the
            # same actionable TypeError _normalize raises.
            raise TypeError(
                f"dedup_keep_first: order term {c} failed analysis — if it "
                "came from .asc()/.desc(), " + _SORT_ORDER_HINT
            ) from e
        nulls_last = (
            spec.descending if spec.nulls_last is None else spec.nulls_last
        )
        # Boolean flag field: false sorts before true, so the flag places
        # null rows first (isNotNull: null->false) or last (isNull:
        # null->true); the key field then orders within the non-null block
        # (two nulls compare equal inside a struct, so the null block is
        # untouched by it).
        flag = c.isNull() if nulls_last else c.isNotNull()
        fields.append(flag.alias(f"__o{i}n"))
        if spec.descending and isinstance(dt, (T.FloatType, T.DoubleType)):
            # NaN flag (r17, ADVICE fix): Spark orders NaN largest, and
            # ``-NaN`` is still NaN, so the negated key alone would rank NaN
            # LAST under a descending spec — the window form (and the
            # merge_upsert_parquet fallback) rank it FIRST. false sorts
            # before true, so NaN rows (flag false) win min_by ahead of
            # every non-NaN row, matching the window's DESC placement.
            # Coalesce pins null rows to true — they're already ordered by
            # the null flag above; this just keeps the field non-null.
            fields.append(
                F.coalesce(~F.isnan(c), F.lit(True)).alias(f"__o{i}f")
            )
        fields.append(_order_key(c, dt, spec).alias(f"__o{i}k"))

    surv = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.min_by(F.struct(*payload), F.struct(*fields)).alias("__row")
    )
    return surv.select(
        *[
            F.col(c) if c in key_set
            else F.col("__row").getField(c).alias(c)
            for c in df.columns
        ]
    )


def fingerprint(col: Column) -> Column:
    """Canonical content fingerprint: lowercase, collapse non-alphanumerics to
    single spaces, trim, md5. Identical SQL exists in DuckDB for the oracle."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))
    return F.md5(norm)
