"""Per-table materialization: the reference's FactTable.construct_dataframe
(/root/reference/src/ferc_xbrl_extractor/datapackage.py:411-459) as one
declarative Spark plan.

Construction: the whole per-table program is rendered as SQL text over the
facts relation (exposed as a uniquely named temp view) and handed to the
JVM in ONE ``spark.sql`` call. The quarantine (errors) relation costs a
second call, made only when ``TableResult.errors`` is first read: a run
that never looks at its conflicts never analyzes their plans. The
Column-API form of the same program cost a py4j round trip per call, per
column argument and per list element — 1,100-2,100 driver⇄JVM crossings
per table, whatever its width. The SQL-text form costs a few dozen per
table (pinned by tests/test_fact_table.py::test_construction_py4j_budget);
the executed plan keeps its shape.

Stage order matters for determinism (SURVEY.md §7.4): fuzzy dedup leaves
exactly one row per (filing, c_id, name), so the pivot never sees a
duplicate key.

Shuffle budget per table: exactly ONE. The shredder already denormalized the
context PK onto every fact row (see sources.shredder), and the plan opens
with an explicit ``DISTRIBUTE BY filing_name, c_id``. Every downstream
stateful operator's required clustering is a *superset* of those two keys —
the fuzzy-dedup aggregate groups on (filing, c_id, name), the pivot groups
on (filing, c_id) — and Spark's HashPartitioning(subset) satisfies
ClusteredDistribution(superset), so Catalyst plans them all over the single
exchange (pinned by tests/test_plans.py). A caller whose facts are already
clustered on (filing_name, c_id) passes ``input_clustered`` and the plan
has no exchange at all. There is one plan shape: a filing or context that
owns most of the rows lands in one task, and no workload measures that
case to justify a second shape. The plan has no ORDER BY; the sinks write
unordered and tests sort what they collect.

    filter (P2 period ∧ P3 concept set ∧ P4 dims-fit)  — map-side, pushed down
    -> per-type value normalisation + P7 axis backfill — map-side
    -> DISTRIBUTE BY filing_name, c_id                 — THE shuffle
    -> fuzzy dedup (one agg; exact dups collapse)      — no exchange
    -> map pivot groupBy(filing, c_id)                 — no exchange
    -> TRY_CAST / reindex / P6 non-null filter         — map-side

The reference instead joins facts to contexts per table (J1); our J1
equivalent is the map-side denormalization, with the standalone broadcast
join form kept in operators.joins for parity.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec
from ferc_xbrl_extractor_spark.functions.casts import FIELD_TO_SPARK
from ferc_xbrl_extractor_spark.operators import filters
from ferc_xbrl_extractor_spark.operators.dedup import fuzzy_dedup_sql
from ferc_xbrl_extractor_spark.operators.sqltext import bq, in_list, sq, temp_view

NUMBER_TYPES = {"number"}
INTEGER_TYPES = {"integer", "year"}
FACT_KEY = ["filing_name", "c_id", "name"]


class TableResult:
    """One output table plus its quarantined dedup conflicts (A3 errors:
    (filing_name, c_id, name, values) rows the reference would have raised
    ValueError on — reference datapackage.py:570-572).

    ``errors`` is analyzed on its first read and kept, so most runs, which
    never read it, pay one ``spark.sql`` per table instead of two."""

    def __init__(self, data: DataFrame, build_errors: Callable[[], DataFrame]):
        self.data = data
        self._build_errors = build_errors
        self._errors: DataFrame | None = None
        # extract() reads many tables' errors from a thread pool; the lock
        # keeps a table's first read from analyzing its plan twice.
        self._lock = threading.Lock()

    @property
    def errors(self) -> DataFrame:
        with self._lock:
            if self._errors is None:
                self._errors = self._build_errors()
            return self._errors


def _normalized_value_sql(spec: TableSpec) -> str:
    """Normalize raw fact strings per the column's *declared* type before
    dedup, like the reference's CONVERT_DTYPES-before-drop_duplicates
    (datapackage.py:430-437): '1.0' and '1.00' must be exact duplicates of
    a number column, not a precision tie. Unparseable values pass through
    raw (they surface as conflicts/nulls downstream, never task failures).
    """
    num_names = [c for c, t in spec.columns.items() if t in NUMBER_TYPES]
    int_names = [c for c, t in spec.columns.items() if t in INTEGER_TYPES]
    return (
        f"CASE WHEN {in_list('`name`', num_names)} "
        "THEN coalesce(CAST(try_cast(`value` AS double) AS string), `value`) "
        f"WHEN {in_list('`name`', int_names)} "
        "THEN coalesce(CAST(try_cast(`value` AS bigint) AS string), `value`) "
        "ELSE `value` END"
    )


def _table_sql(
    src: str,
    spec: TableSpec,
    input_clustered: bool = False,
) -> tuple[str, str]:
    """The table's program as SQL text over the facts relation ``src``:
    returns ``(data_sql, errors_sql)``. Arguments as for
    :func:`construct_table_with_errors`."""
    date_cols = ["date"] if spec.instant else ["start_date", "end_date"]
    date_sql = ["`end_date` AS `date`"] if spec.instant else ["`start_date`", "`end_date`"]
    # Shrink the shuffle payload map-side BEFORE the exchange: resolve the
    # dims map into the table's axis string columns (P7 backfill) and keep
    # only the columns the rest of the plan reads. Shipping the map through
    # the shuffle measures ~4× slower than shipping flat strings.
    select_sql = [
        "`filing_name`",
        "`c_id`",
        "`entity_id`",
        "`publication_time`",
        *date_sql,
        *[filters.axis_with_total_sql(axis) for axis in spec.axes],
        "`name`",
        f"{_normalized_value_sql(spec)} AS `value`",
    ]
    where_sql = " AND ".join(
        f"({p})"
        for p in (
            filters.for_period_sql(spec.instant),
            filters.with_concepts_sql(spec.data_columns),
            filters.dims_fit_sql(filters.axes_array_sql(spec.axes)),
        )
    )
    selected = f"SELECT {', '.join(select_sql)} FROM {src} WHERE {where_sql}"
    # The single shuffle: every grouping key below is a superset of
    # (filing_name, c_id), so this one clustering serves them all.
    if not input_clustered:
        selected += " DISTRIBUTE BY `filing_name`, `c_id`"

    # A2+A3 in ONE aggregate: fuzzy dedup is multiplicity-insensitive, so
    # exact duplicates collapse inside the same pass that resolves
    # precision conflicts — no separate full-relation distinct. Precision
    # resolution only for columns whose declared type is numeric.
    pk_cols = ["entity_id", "publication_time", *date_cols, *spec.axes]
    numeric_names = [
        c for c, t in spec.columns.items() if t in NUMBER_TYPES | INTEGER_TYPES
    ]
    resolved, errors = fuzzy_dedup_sql(
        f"({selected}) AS __sel",
        ["filing_name", "c_id", *pk_cols, "name", "value"],
        FACT_KEY,
        numeric_names=numeric_names,
    )

    # A1: long -> wide, grouped on (filing, c_id) exactly like the
    # reference's unstack-on-c_id (datapackage.py:427-441). Context PK
    # fields are functions of the context, so first() is constant per
    # group. The map pivot collects each context's (name, value) pairs into
    # one map and looks every data column up in it: it RELIES on fuzzy
    # dedup's one-row-per-(filing, c_id, name) output — a duplicate name
    # would raise DUPLICATE_MAP_KEY (pinned by
    # tests/test_fact_table.py::test_pivot_after_duplicate_fact_keys).
    pivot = (
        "SELECT `filing_name`, `c_id`, "
        + "".join(f"first({bq(c)}) AS {bq(c)}, " for c in pk_cols)
        + "map_from_entries(collect_list(struct(`name`, `value`))) AS __m "
        f"FROM ({resolved}) AS __res GROUP BY `filing_name`, `c_id`"
    )

    # F9 casts + P5 reindex to the declared column order. Date columns stay
    # ISO strings, as the reference writes them.
    out_sql = [bq(pk) for pk in spec.primary_key]
    for name in spec.data_columns:
        target = FIELD_TO_SPARK[spec.columns[name]]
        out_sql.append(
            f"TRY_CAST(__m[{sq(name)}] AS {target.simpleString()}) AS {bq(name)}"
        )
    wide = f"SELECT {', '.join(out_sql)} FROM ({pivot}) AS __piv"

    # P6 over the CAST columns (a WHERE beside the casts would read the raw
    # map lookups): drop rows where every data column is null.
    data = (
        f"SELECT * FROM ({wide}) AS __wide "
        f"WHERE {filters.at_least_one_non_null_sql(spec.data_columns)}"
    )
    return data, errors


def construct_table_with_errors(
    facts: DataFrame,
    spec: TableSpec,
    input_clustered: bool = False,
) -> TableResult:
    """Build one output table from the (denormalized) long facts relation.

    Args:
        facts: output of ``sources.shredder.facts_from``.
        spec: the table's schema contract.
        input_clustered: the caller guarantees ``facts`` is already
            hash-clustered on (filing_name, c_id) — e.g. loaded from a
            bucketed table, or repartitioned BEFORE a row-multiplying
            transform so the exchange shipped fewer/wider rows. Skips the
            explicit repartition; every aggregate's required distribution
            is satisfied by the input partitioning, so the whole table
            plan runs with ZERO exchanges.
    """
    spark = facts.sparkSession

    def build(part: int) -> DataFrame:
        with temp_view(facts) as view:
            return spark.sql(_table_sql(bq(view), spec, input_clustered)[part])

    return TableResult(build(0), lambda: build(1))


def construct_table(
    facts: DataFrame,
    spec: TableSpec,
    input_clustered: bool = False,
) -> DataFrame:
    """Data-only convenience wrapper (it never analyzes the errors plan);
    use construct_table_with_errors (or pipeline.extract's errors/strict
    surface) to observe quarantined conflicts."""
    return construct_table_with_errors(facts, spec, input_clustered).data
