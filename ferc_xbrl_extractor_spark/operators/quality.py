"""Declarative data-quality constraint checking in ONE aggregate pass.

The reference expresses its data-quality invariants as ad-hoc pytest
assertions, each running its own full scan (used-fact ratio
ref:tests/integration/data_quality_test.py:37-55, non-null rows :92-100,
publication_time completeness :58-66). At 100 TB a per-constraint scan is
the dominant cost, so this module compiles an arbitrary *suite* of
declared constraints into a single map-side-combinable aggregation: one
scan, one (tiny, 1-row) shuffle, regardless of how many constraints are
declared. The 1-row wide aggregate is then unpivoted driver-free via
``stack`` into the tidy report relation ``(constraint, metric, passed)``.

Design notes for scale:
- Every metric is an algebraic aggregate (sum/count/min/max/avg) or an
  exact count-distinct. Spark plans multiple distinct aggregates with a
  single Expand + two-phase hash aggregate — still one scan of the data.
- No driver collection: the report itself is a DataFrame; "suite passed"
  is ``report.filter(~passed).isEmpty()`` or an agg over it.
- Thresholds are baked into the plan as literals, so the pass/fail
  booleans are computed cluster-side and the report is oracle-checkable.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One constraint: a named metric expression plus a pass predicate.

    ``metric`` must be an aggregate Column producing a numeric scalar;
    ``lo``/``hi`` are the inclusive bounds the metric must fall in (either
    side may be None for unbounded).
    """

    name: str
    metric: Column
    lo: float | None = None
    hi: float | None = None


def completeness(col: str, at_least: float = 1.0) -> Check:
    """Fraction of rows with ``col`` non-null."""
    m = F.avg(F.col(col).isNotNull().cast("double"))
    return Check(f"completeness({col})", m, lo=at_least)


def uniqueness(
    *cols: str,
    at_least: float = 1.0,
    approx: bool = False,
    rsd: float = 0.01,
) -> Check:
    """distinct(cols)/count ratio (1.0 == candidate key).

    ``approx=True`` swaps the exact count-distinct for HyperLogLog++
    (``approx_count_distinct``, relative error ``rsd``). The exact form
    makes Spark plan an Expand that replays the scanned rows once per
    distinct aggregate in the suite — at 100 TB that multiplier IS the
    cost of the suite, and nobody needs the ratio's 7th decimal to decide
    a pass/fail threshold. HLL keeps the single-scan single-pass shape
    (one mergeable sketch per constraint, no Expand); set ``at_least``
    with ``rsd`` of slack. Exact stays available for candidate-key
    assertions at small scale."""
    if approx:
        # exact count_distinct(a, b) skips rows where ANY key column is
        # NULL; a bare struct would count them (a struct is non-NULL even
        # with all-NULL fields), silently flipping NULL-heavy candidate-
        # key failures into passes — gate the struct on all-non-null so
        # approx differs from exact only by the sketch's rsd.
        all_non_null = F.lit(True)
        for c in cols:
            all_non_null = all_non_null & F.col(c).isNotNull()
        m = F.approx_count_distinct(
            F.when(all_non_null, F.struct(*[F.col(c) for c in cols])), rsd
        ) / F.count(F.lit(1))
        return Check(f"uniqueness~({','.join(cols)})", m, lo=at_least)
    m = F.count_distinct(*[F.col(c) for c in cols]) / F.count(F.lit(1))
    return Check(f"uniqueness({','.join(cols)})", m, lo=at_least)


def non_negative(col: str) -> Check:
    return Check(f"non_negative({col})", F.min(F.col(col)), lo=0.0)


def mean_between(col: str, lo: float, hi: float) -> Check:
    return Check(f"mean_between({col})", F.avg(F.col(col)), lo=lo, hi=hi)


def max_at_most(col: str, hi: float) -> Check:
    return Check(f"max_at_most({col})", F.max(F.col(col)), hi=hi)


def size_between(lo: int, hi: int | None = None) -> Check:
    return Check("size", F.count(F.lit(1)), lo=float(lo),
                 hi=float(hi) if hi is not None else None)


def matches(col: str, pattern: str, at_least: float = 1.0) -> Check:
    """Fraction of non-null values CONTAINING a (Java) regex match —
    ``rlike`` is an unanchored substring search, so a full-value
    validation must anchor the pattern itself (``^...$``)."""
    hit = F.when(F.col(col).rlike(pattern), 1.0).otherwise(0.0)
    m = F.sum(F.when(F.col(col).isNotNull(), hit)) / F.sum(
        F.col(col).isNotNull().cast("double")
    )
    return Check(f"matches({col})", m, lo=at_least)


def in_set(col: str, allowed: list[str], at_least: float = 1.0) -> Check:
    # coalesce: a NULL value is *not* in the set (isin yields NULL on NULL,
    # which avg would silently skip — fail it instead).
    m = F.avg(F.coalesce(F.col(col).isin(allowed), F.lit(False)).cast("double"))
    return Check(f"in_set({col})", m, lo=at_least)


def validate_suite(checks: list[Check]) -> None:
    """Shared suite validation (batch + streaming entry points)."""
    if not checks:
        raise ValueError("check_constraints: empty suite")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate constraint names: {names}")


def report_structs(checks: list[Check]) -> Column:
    """The unpivot expression shared by batch and streaming reports: an
    array of (constraint, metric, passed) structs over the wide aggregate
    columns ``m0..mN`` — exploding it replaces a driver round-trip, and
    pass/fail folds to a literal comparison per metric column. NULL
    metrics (empty input for a ratio) fail closed."""
    pairs = []
    for i, c in enumerate(checks):
        m = F.col(f"m{i}")
        ok = m.isNotNull()
        if c.lo is not None:
            ok = ok & (m >= F.lit(float(c.lo)))
        if c.hi is not None:
            ok = ok & (m <= F.lit(float(c.hi)))
        pairs.append(
            F.struct(
                F.lit(c.name).alias("constraint"),
                m.alias("metric"),
                ok.alias("passed"),
            )
        )
    return F.array(*pairs)


def check_constraints(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Run a whole constraint suite in one aggregation pass.

    Returns ``(constraint string, metric double, passed boolean)`` with
    one row per check, ordered as declared. NULL metrics (empty input for
    a ratio) fail closed.
    """
    validate_suite(checks)
    agg_row = df.agg(
        *[c.metric.cast("double").alias(f"m{i}") for i, c in enumerate(checks)]
    )
    return (
        agg_row.select(F.explode(report_structs(checks)).alias("r"))
        .select("r.constraint", "r.metric", "r.passed")
    )
