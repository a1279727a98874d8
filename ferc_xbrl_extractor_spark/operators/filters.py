"""Predicates P2-P7 (SURVEY.md §2.2) as SQL text.

Each predicate has ONE definition: a function returning a SQL expression.
``operators.fact_table`` splices them into a table's single SQL statement;
the few DataFrame callers wrap the same text in ``filter``/``F.expr``. All
are pure expressions — no joins, no UDFs — so they vectorize in
whole-stage codegen and push down through the plan. P1 (null fact values)
is applied at parse time by ``sources.shredder``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ferc_xbrl_extractor_spark.operators.sqltext import bq, in_list, sq


def for_period_sql(instant: bool) -> str:
    """P2: route facts to instant vs duration tables (instance.py:316)."""
    return f"`instant` = {'TRUE' if instant else 'FALSE'}"


def with_concepts_sql(concept_names: list[str]) -> str:
    """P3: semi-filter facts to a table's data columns (instance.py:318-320).

    An in-set predicate over a driver-known list, which Catalyst can push
    to the scan; no join needed."""
    return in_list("`name`", list(concept_names))


def axes_array_sql(pk_axes: list[str]) -> str:
    """A table's PK axes as an ``array<string>`` literal for P4."""
    if not pk_axes:
        return "CAST(array() AS array<string>)"
    return f"array({', '.join(sq(a) for a in pk_axes)})"


def dims_fit_sql(axes_sql: str, dims_col: str = "dims") -> str:
    """P4: a context fits a table iff its dim keys ⊆ the table's PK axes
    (instance.py:159-169). ``axes_sql`` is an ``array<string>`` expression:
    :func:`axes_array_sql` for one table, or a column holding each row's
    axes. Facts *missing* an axis still fit — they are the 'total' slice
    (the backfill happens in the PK projection, P7)."""
    return (
        f"forall(map_keys(coalesce({bq(dims_col)}, map())), "
        f"k -> array_contains({axes_sql}, k))"
    )


def at_least_one_non_null_sql(data_columns: list[str]) -> str:
    """P6: keep rows where some data column is non-null
    (datapackage.py:458); ``TRUE`` when there are no data columns."""
    if not data_columns:
        return "TRUE"
    return " OR ".join(f"{bq(c)} IS NOT NULL" for c in data_columns)


def at_least_one_non_null(df: DataFrame, data_columns: list[str]) -> DataFrame:
    """P6 over a DataFrame: drop rows where every data column is null."""
    if not data_columns:
        return df
    return df.filter(at_least_one_non_null_sql(data_columns))


def axis_with_total_sql(axis: str, dims_col: str = "dims") -> str:
    """P7 axis backfill: a context lacking an axis represents the total
    slice (instance.py:178) — ``coalesce(dims[axis], 'total') AS axis``."""
    return f"coalesce({bq(dims_col)}[{sq(axis)}], 'total') AS {bq(axis)}"
