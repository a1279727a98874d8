"""Quoting and temp-view helpers for operators that build SQL text.

Operators that build a plan as SQL text interpolate caller-supplied column
names and values into it. Every such interpolation goes through
:func:`bq` (identifiers) or :func:`sq` (string literals), so a name holding
a backtick, quote or backslash binds to the column it names instead of
breaking or altering the query.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bq(name: str) -> str:
    """Backtick-quote an identifier for SQL text (`` escapes a backtick)."""
    return "`" + name.replace("`", "``") + "`"


def sq(s: str) -> str:
    """Single-quoted SQL string literal (backslash and quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def raw_col(name: str) -> Column:
    """Resolve a column by its RAW name. ``F.col``/``select(str)`` parse
    backticks and dots as quoting and nesting, so a name containing one
    needs the escaped-quoted form."""
    return F.expr(bq(name))


def in_list(col_sql: str, values: list[str]) -> str:
    """``col IN ('a', ...)`` as SQL text; ``FALSE`` for an empty list
    (``IN ()`` does not parse)."""
    if not values:
        return "FALSE"
    return f"{col_sql} IN ({', '.join(sq(v) for v in values)})"


@contextmanager
def temp_view(df: DataFrame) -> Iterator[str]:
    """Expose ``df`` to SQL text under a unique temp-view name, dropped on
    exit. ``spark.sql`` analyzes eagerly, so DataFrames built inside the
    block keep the view's plan after it is dropped."""
    name = f"__v_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)
