"""Quality/statistics aggregates (SURVEY.md §2.4 A4-A7, §2.11).

The reference tracks used-fact coverage by mutating a shared set per table
(datapackage.py:420) — inherently sequential. Here the same quantities are
pure dataflow: consumed keys are a DataFrame union, coverage is a semi-join
aggregate, and every invariant is a query returning violations (empty ==
healthy), so checks run cluster-side with no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators import filters

FACT_KEY = ["filing_name", "c_id", "name"]


def fact_id_counts(facts: DataFrame) -> DataFrame:
    """A4: multiplicity of each fact id (c_id:name per filing)."""
    return facts.groupBy(*FACT_KEY).agg(F.count(F.lit(1)).alias("n"))


def duplicated_fact_ids(facts: DataFrame) -> DataFrame:
    return fact_id_counts(facts).filter(F.col("n") >= 2)


def used_fact_stats(facts: DataFrame, consumed_keys: DataFrame) -> DataFrame:
    """A5: per-filing used/total distinct fact ids + ratio.

    ``consumed_keys`` is the union of (filing_name, c_id, name) actually
    materialized into tables — the pure-dataflow replacement for the
    reference's used_fact_ids set mutation.
    """
    total = (
        facts.select(*FACT_KEY)
        .distinct()
        .groupBy("filing_name")
        .agg(F.count(F.lit(1)).alias("total_facts"))
    )
    used = (
        facts.select(*FACT_KEY)
        .distinct()
        .join(consumed_keys.select(*FACT_KEY).distinct(), FACT_KEY, "left_semi")
        .groupBy("filing_name")
        .agg(F.count(F.lit(1)).alias("used_facts"))
    )
    return (
        total.join(used, "filing_name", "left")
        .withColumn("used_facts", F.coalesce("used_facts", F.lit(0)))
        .withColumn("ratio", F.col("used_facts") / F.col("total_facts"))
    )


def consumed_keys_for_tables(facts: DataFrame, specs) -> DataFrame:
    """Fact keys consumed by a set of TableSpecs (pre-dedup, like the
    reference which records raw_facts before dropping duplicates).

    A fact is consumed iff SOME spec has its name among that spec's data
    columns, the matching period type, and a PK axis set covering the
    fact's dims (P2∧P3∧P4). Rather than unioning one filtered plan per
    spec (a 255-branch plan that takes longer to optimize than to run),
    the spec surface is exploded into a tiny (name, instant, axes) lookup
    relation and consumption is ONE broadcast join + subset predicate —
    constant plan size no matter how many tables the catalog has.
    """
    spark = facts.sparkSession
    rows = [
        (name, spec.instant, sorted(spec.axes))
        for spec in specs
        for name in spec.data_columns
    ]
    if not rows:
        return facts.select(*FACT_KEY).limit(0)
    lookup = spark.createDataFrame(
        rows, "name string, instant boolean, __axes array<string>"
    ).dropDuplicates()
    fits = F.expr(filters.dims_fit_sql("`__axes`"))
    return (
        facts.join(F.broadcast(lookup), ["name", "instant"], "inner")
        .filter(fits)
        .select(*FACT_KEY)
        .distinct()
    )
