"""Scalar function layer (SURVEY.md §2.8, F1-F9).

Every scalar the reference computes row-wise in pandas is re-expressed
as a JVM-side Column expression — no Python UDFs anywhere in this
module, so the whole layer stays inside whole-stage codegen.

Reference citations:
- F1/F2 date cast + decomposition: ``daily_dag.py:62-66``,
  ``weekly_dag.py:404-410``.
- F3/F4 numeric/string casts: ``daily_dag.py:69-73,107-116``,
  ``weekly_dag.py:93-104``.
- F5 null coalescing (``x if x != None else np.NaN``):
  ``weekly_dag.py:81-88,241-244,311``.
- F6 unit-suffix parse (``float(s[:-1]) * 10**9`` for "13.9B"):
  ``weekly_dag.py:313``.
- F7 scalar JSON-path lookup: ``daily_dag.py:59-60``,
  ``weekly_dag.py:82-88``.
- F8 current-date parts: ``daily_dag.py:75-78``.

Semantics pinned here (vs pandas): a failing cast yields NULL (pandas
``astype(int)`` raises on NaN); np.NaN maps to SQL NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "decompose_date",
    "date_parts",
    "safe_cast",
    "coalesce_default",
    "parse_unit_suffixed",
    "json_path",
    "today_parts",
]


def date_parts(col: Column | str) -> dict[str, Column]:
    """F2 — integer year/month/day parts of a date/timestamp column.

    The reference always persists these three LongType columns and drops
    the source date (``daily_dag.py:63-66``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return {
        "year": F.year(c).cast("long"),
        "month": F.month(c).cast("long"),
        "day": F.dayofmonth(c).cast("long"),
    }


def decompose_date(df: DataFrame, date_col: str) -> DataFrame:
    """F1+F2+P1 — add the integer year/month/day columns, then drop the
    source.

    One lazy projection; Catalyst fuses it with neighbouring selects.
    """
    return df.withColumns(date_parts(date_col)).drop(date_col)


def safe_cast(col: Column | str, dtype: str) -> Column:
    """F3/F4 — cast with NULL-on-failure semantics.

    Spark 4 runs ANSI mode by default, where ``cast`` THROWS on
    malformed input; ``try_cast`` restores the engine's pinned
    NULL-on-failure semantics (pandas ``astype`` would raise —
    SURVEY.md §7.3a documents the divergence).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(dtype)


def coalesce_default(col: Column | str, default=None) -> Column:
    """F5 — ``x if x is not None else default``.

    The reference writes this as a conditional expression per field
    (NaN default at ``weekly_dag.py:81-88``, 0 default at ``:311``).
    """
    c = F.col(col) if isinstance(col, str) else col
    if default is None:
        return c  # NULL stays NULL — NaN and NULL unify as SQL NULL.
    return F.coalesce(c, F.lit(default))


#: Multipliers for the unit suffixes Yahoo-style APIs emit (suffixes
#: matched case-insensitively; the single source the parser iterates).
_UNIT_MULTIPLIERS: list[tuple[str, float]] = [
    ("T", 1e12),
    ("B", 1e9),
    ("M", 1e6),
    ("K", 1e3),
]


def parse_unit_suffixed(col: Column | str) -> Column:
    """F6 — parse "13.9B" / "3.4M" / "1200" style strings to double.

    Generalizes the reference's ``float(s[:-1]) * 10**9`` market-cap
    parse (``weekly_dag.py:313``), which only handled the "B" suffix.
    Pure Column expression — no UDF; stays in codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    # regexp_extract yields '' on no match; try_cast turns that into NULL
    # (ANSI cast would throw).
    num = F.regexp_extract(c, r"^\s*(-?[\d.]+)", 1).try_cast("double")
    letters = "".join(
        x for s, _ in _UNIT_MULTIPLIERS for x in (s.upper(), s.lower())
    )
    suffix = F.upper(F.regexp_extract(c, rf"([{letters}])\s*$", 1))
    first, *rest = _UNIT_MULTIPLIERS
    mult = F.when(suffix == first[0], F.lit(first[1]))
    for s, m in rest:
        mult = mult.when(suffix == s, F.lit(m))
    mult = mult.otherwise(F.lit(1.0))
    return num * mult


def json_path(col: Column | str, path: str) -> Column:
    """F7 — scalar JSON-path lookup over a JSON string column.

    ``json['data']['price']`` (``daily_dag.py:59``) becomes
    ``get_json_object(col, '$.data.price')``. For typed, repeated access
    prefer ``F.from_json`` with an explicit schema (see sources/json_source).
    """
    c = F.col(col) if isinstance(col, str) else col
    if not path.startswith("$"):
        path = "$." + path
    return F.get_json_object(c, path)


def today_parts(as_of: str | None = None) -> dict[str, Column]:
    """F8 — current-date parts, injectable for determinism.

    The reference calls ``date.today()`` inline (``daily_dag.py:75-78``);
    every pipeline here takes an explicit ``as_of`` so tests and oracle
    comparisons are reproducible (SURVEY.md §7.3c).
    """
    base = F.to_date(F.lit(as_of)) if as_of else F.current_date()
    return {
        "year": F.year(base).cast("long"),
        "month": F.month(base).cast("long"),
        "day": F.dayofmonth(base).cast("long"),
    }
