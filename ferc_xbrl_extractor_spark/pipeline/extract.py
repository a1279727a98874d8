"""The extract lifecycle (SURVEY.md §3.2), Spark-first.

Reference shape: driver batches filings over a process pool, each worker
shreds + builds all tables for its batch, driver concats per table
(xbrl.py:84-136). Spark shape: ONE lazy program —

    binaryFile listing -> mapInPandas (open zips, name filter, shred)
      (persisted once)
      -> per TableSpec: filter -> dedup -> pivot -> cast  (independent plans)

The shred is one Python pass over the file listing (``shred_paths``): no
exchange before it, and a filing's bytes cross into Python once. The
shredded long relation is persisted so the N per-table plans share one
parse pass. Each table plan is a single-shuffle job (see
operators.fact_table); tables are independent, so on a cluster they are
scheduled concurrently by the Spark scheduler (and we kick them off from a
thread pool when writing).

Plan construction is driver work that grows with the table count (~255 on
Form 1). ``construct_table_with_errors`` renders each table's program as
SQL text and hands it to the JVM in one ``spark.sql`` call (the data plan),
a few dozen py4j round trips per table instead of one per column
expression and list element. Each call is an eager Catalyst analysis, so
the tables are built from a thread pool: every Python thread has its own
py4j connection and JVM thread, and the JVM analyzes that many plans at
once. The quarantine (errors) plans are analyzed only when
``ExtractResult.errors`` is first read, through the same pool.
"""

from __future__ import annotations

import functools
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, Iterable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec
from ferc_xbrl_extractor_spark.operators.fact_table import (
    TableResult,
    construct_table_with_errors,
)
from ferc_xbrl_extractor_spark.operators.stats import (
    consumed_keys_for_tables,
    used_fact_stats,
)

# The extract calls only ``shred_paths``. ``scan_filings`` and
# ``shred_filings`` stay attributes of this module because
# perfbench/worker.py wraps them by name in its traced runs.
from ferc_xbrl_extractor_spark.sources.filings import scan_filings  # noqa: F401
from ferc_xbrl_extractor_spark.sources.shredder import (  # noqa: F401
    facts_from,
    shred_filings,
    shred_paths,
)

# Tables whose plans are analyzed at once. Analysis is CPU-bound JVM work:
# on a 4-core driver, building 64 tables took 3.3 s serially, 1.4 s with 4
# or 8 threads and 2.4 s with 16.
_BUILD_THREADS = 4


def _pooled(fn: Callable, items: Iterable) -> list:
    """``fn`` over ``items`` from the construction thread pool, in order."""
    with ThreadPoolExecutor(max_workers=_BUILD_THREADS) as pool:
        return list(pool.map(fn, items))


@dataclass
class ExtractResult:
    """Lazy handles to everything the run produced."""

    facts: DataFrame
    built: dict[str, TableResult]
    shredded: DataFrame  # persisted; call .unpersist() when done

    @property
    def tables(self) -> dict[str, DataFrame]:
        return {name: b.data for name, b in self.built.items()}

    @functools.cached_property
    def errors(self) -> dict[str, DataFrame]:
        """Per-table quarantined fuzzy-dedup conflicts (filing_name, c_id,
        name, values) — the rows the reference raises ValueError on (E2).
        Empty DataFrames when the data is clean. The plans are analyzed on
        this first read, concurrently, and kept."""
        return dict(zip(self.built, _pooled(lambda b: b.errors, self.built.values())))

    def used_fact_ratios(self, specs: list[TableSpec]) -> DataFrame:
        consumed = consumed_keys_for_tables(self.facts, specs)
        return used_fact_stats(self.facts, consumed)

    def stats(self, specs: list[TableSpec]) -> dict[str, dict[str, int]]:
        """A8: the reference's per-filing stats artifact
        ({filing: {used_facts, total_facts}}, ExtractOutput.stats /
        xbrl.py:120-136). The reference merges per-batch fact-id dicts on
        the driver; here the same quantities fall out of one aggregate over
        the facts relation — no driver-side set mutation to merge."""
        return {
            r["filing_name"]: {
                "used_facts": r["used_facts"],
                "total_facts": r["total_facts"],
            }
            for r in self.used_fact_ratios(specs).collect()
        }

    def raise_on_conflicts(self, max_show: int = 5) -> None:
        """Strict mode (reference E2 semantics): fail the run if any table
        quarantined a conflict; run it before sinking when reference parity
        matters. The tables are checked concurrently from the construction
        pool. One collect over the union of every table's errors measured
        slower on a 4-core host (64 tables: 11 s against 5 s; 128 tables:
        24 s against 9 s), and its cost grew faster than the table count."""

        def first_rows(item):
            name, err = item
            return [(name, r) for r in err.limit(max_show).collect()]

        found = _pooled(first_rows, self.errors.items())
        bad = [hit for hits in found for hit in hits][:max_show]
        if bad:
            detail = "; ".join(
                f"table {name}: "
                f"{r['filing_name']}:{r['c_id']}:{r['name']} {list(r['values'])}"
                for name, r in bad
            )
            raise ValueError(f"unresolvable duplicate facts — {detail}")


def extract(
    spark: SparkSession,
    filings_path: str | list[str],
    specs: dict[str, TableSpec],
    instance_pattern: str | None = None,
    requested_tables: list[str] | None = None,
    fact_prefix: str = "ferc",
    typed_dates: bool = False,
) -> ExtractResult:
    """Run the full pipeline lazily; returns DataFrames, not materialized
    data — callers write/collect as needed.

    ``requested_tables`` prunes the plan set before anything runs (S6).
    """
    if requested_tables is not None:
        specs = {k: v for k, v in specs.items() if k in requested_tables}

    # MEMORY_AND_DISK: at 100 TB the shredded relation won't fit in memory;
    # spilled partitions still beat re-parsing XML for all ~255 table plans.
    shredded = shred_paths(
        spark, filings_path, instance_pattern=instance_pattern, fact_prefix=fact_prefix
    ).persist(StorageLevel.MEMORY_AND_DISK)
    facts = facts_from(shredded)

    # The name is looked up at call time: perfbench/worker.py wraps this
    # module's construct_table_with_errors in its traced runs.
    built = _pooled(
        lambda spec: construct_table_with_errors(facts, spec, typed_dates=typed_dates),
        specs.values(),
    )
    return ExtractResult(facts=facts, built=dict(zip(specs, built)), shredded=shredded)
