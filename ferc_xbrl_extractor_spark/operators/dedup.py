"""Deduplication operators (SURVEY.md §2.4 A2/A3, §2.12 G1).

``fuzzy_dedup`` is the reference's one custom UDAF
(/root/reference/src/ferc_xbrl_extractor/datapackage.py:548-575), here
re-expressed as a single Catalyst aggregation — no Python in the loop,
so it rides codegen and scales with the shuffle, not with Python
throughput. The aggregate reuses whatever clustering the plan already
has (see operators.fact_table's single-shuffle budget). Input should be
exact-deduped on ``keys + [value_col]`` first (A2 before A3, like the
reference).

Reference semantics (pinned by tests/unit/datapackage_test.py:139-192):
a key group with >1 distinct value resolves to the value that is *uniquely
most precise*: the single value not equal to its rounding at the smallest
probe precision p in 0..5. Groups that never isolate exactly one value
(string conflicts, precision ties, all-integers) raise a ValueError in the
reference; at cluster scale a task failure is the wrong tool, so the
default here is a quarantine channel — conflicted keys are routed to an
``errors`` DataFrame, and the extract's strict mode
(``ExtractResult.raise_on_conflicts``) turns them into a driver-side raise.

Two deliberate refinements over the reference (per round-1 advice):
- ``numeric_names`` restricts precision-resolution to groups whose
  declared column type is numeric — the reference applies float probing to
  any value that happens to parse, silently "resolving" string-typed
  conflicts it should raise on.
- callers should normalize values per declared type *before* dedup (the
  reference converts via CONVERT_DTYPES before drop_duplicates,
  datapackage.py:430-437) — ``operators.fact_table`` does this so '1.0'
  vs '1.00' are exact duplicates, not precision ties.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators.sqltext import bq, in_list, temp_view


def _row_digest(df: DataFrame, cols: list[str], salt: int) -> Column:
    """128-bit row digest as two independent 64-bit xxhash64 folds.

    Spark's hash functions SKIP null inputs (a null contributes nothing to
    the running seed), so ``xxhash64('a', NULL)`` == ``xxhash64(NULL,
    'a')`` — interleaving an ``isNull`` boolean after every column makes
    null *positions* part of the hashed sequence and restores injectivity
    up to genuine hash collisions. Two salted folds give 128 bits:
    collision odds for n rows are ~n^2/2^129 (~1e-15 at a trillion rows),
    documented as the exactness boundary of the digest path."""
    parts: list[Column] = [F.lit(salt)]
    for c in cols:
        parts.append(F.col(c))
        parts.append(F.col(c).isNull())
    return F.xxhash64(*parts)


def dedup_exact(
    df: DataFrame, keys: list[str] | None = None, digest: bool = False
) -> DataFrame:
    """A2/G1: exact duplicate elimination. With ``keys=None`` the whole row
    is the key (reference ``drop_duplicates()``, datapackage.py:437).

    ``digest=True`` (whole-row mode only) groups on a 128-bit row digest
    instead of the full column tuple: the aggregate hashmap probes compare
    two longs instead of N variable-length strings, and the row payload
    rides as an ``any_value`` struct (all rows in a digest group are
    identical, so any is exact). Measured ~2x on wide-string relations
    (r4: the 3.7M-row distinct was the largest same-work gap vs DuckDB);
    exact up to 2^-129-scale digest collisions — see ``_row_digest``."""
    if keys:
        return df.dropDuplicates(keys)
    if not digest:
        return df.dropDuplicates()
    cols = df.columns
    h1 = _row_digest(df, cols, 0x9E3779B9)
    h2 = _row_digest(df, cols, 0x85EBCA6B)
    agged = (
        df.withColumn("__h1", h1)
        .withColumn("__h2", h2)
        .groupBy("__h1", "__h2")
        .agg(F.any_value(F.struct(*[F.col(c) for c in cols])).alias("__row"))
    )
    return agged.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def write_digest_bucketed(
    df: DataFrame, table: str, num_buckets: int = 64
) -> None:
    """Layout investment for repeated exact dedup: persist the relation
    with its 128-bit row digest as two bucket columns (``__h1``, ``__h2``),
    bucketed + sorted on them.

    A distributed distinct must normally pay one keyed exchange — the r4/r5
    benches measured that exchange as the whole residual gap vs an
    in-process engine. Bucketing moves the exchange into this one-time
    write: every later :func:`dedup_exact_bucketed` groups on the bucket
    columns and the scan itself reports the hash distribution, so the
    dedup plan contains ZERO Exchange nodes (pinned in
    tests/test_plans.py). The same layout co-locates any other
    digest-keyed operation (anti-join against a tombstone set, incremental
    append dedup) — the standard bucketed-table trade at 100 TB: pay the
    shuffle once at ingest, never at query time."""
    cols = df.columns
    with_digest = df.withColumn(
        "__h1", _row_digest(df, cols, 0x9E3779B9)
    ).withColumn("__h2", _row_digest(df, cols, 0x85EBCA6B))
    (
        with_digest.write.mode("overwrite")
        .bucketBy(num_buckets, "__h1", "__h2")
        .sortBy("__h1", "__h2")
        .saveAsTable(table)
    )


def dedup_exact_bucketed(spark, table: str) -> DataFrame:
    """A2 over a :func:`write_digest_bucketed` layout: exchange-free exact
    distinct. Groups on the bucket columns (the scan already satisfies the
    clustering), payload rides as ``any_value`` — identical semantics to
    ``dedup_exact(digest=True)``, minus its shuffle."""
    t = spark.table(table)
    cols = [c for c in t.columns if c not in ("__h1", "__h2")]
    agged = t.groupBy("__h1", "__h2").agg(
        F.any_value(F.struct(*[F.col(c) for c in cols])).alias("__row")
    )
    return agged.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def dedup_exact_keep(
    df: DataFrame, keys: list[str], order_by: list, keep: str = "first"
) -> DataFrame:
    """G1 with deterministic survivor selection: keep the first/last row per
    key under an explicit ordering.

    Formulated as ONE hash aggregate — ``min_by(struct(<all columns>),
    struct(order_by))`` (``max_by`` for ``keep='last'``); struct comparison
    is lexicographic, so the struct of ordering columns reproduces the
    multi-column sort order without sorting. Versus the row_number-window
    form this drops the full per-partition sort AND gets map-side partial
    aggregation: each map task forwards one candidate row per key, so the
    shuffle carries |distinct keys| rows instead of |rows| — the difference
    between a bounded and unbounded shuffle at 100 TB.
    """
    pick = F.min_by if keep == "first" else F.max_by
    payload = F.struct(*[F.col(c) for c in df.columns if c not in keys])
    agged = df.groupBy(*keys).agg(
        pick(payload, F.struct(*order_by)).alias("__row")
    )
    # Project the survivor back to the input column order, taking the key
    # columns from the aggregate's own grouping attributes — NOT from the
    # struct. Struct-field extraction mints fresh attribute ids, which
    # erases the plan's output partitioning/ordering and forces any
    # downstream keyed operator to re-shuffle; grouping attributes keep it.
    return agged.select(
        *[
            F.col(c) if c in keys else F.col(f"__row.{c}").alias(c)
            for c in df.columns
        ]
    )


def _ndigits_sql(col_sql: str, max_precision: int = 6) -> str:
    """Decimal-digit count of a double as ONE flat SQL CASE, probed like the
    reference's loop: smallest p with round(v, p) == v, else
    max_precision + 1."""
    probes = " ".join(
        f"WHEN round({col_sql}, {p}) = {col_sql} THEN {p}"
        for p in range(max_precision + 1)
    )
    return f"CASE {probes} ELSE {max_precision + 1} END"


def fuzzy_dedup_sql(
    src: str,
    columns: list[str],
    keys: list[str],
    value_col: str = "value",
    max_precision: int = 6,
    numeric_names: list[str] | None = None,
) -> tuple[str, str]:
    """A3 as SQL text over the relation ``src`` (a view name or a
    parenthesized, aliased subquery whose columns are ``columns``):
    returns ``(resolved_sql, errors_sql)``. The single definition of the
    fuzzy-dedup rule — :func:`fuzzy_dedup` and ``operators.fact_table``
    both splice it into their statements.

    Single-aggregate, narrow-buffer formulation: ONE pass per group
    computes everything from SIX aggregate buffers —

    - ``bit_or(shiftleft(1, nd))``: the set of precision buckets present,
      as one long. ``nd`` has the tiny domain 0..max_precision+1, so the
      group's highest precision, its runner-up, and "is there a second
      bucket" are all post-aggregation bit arithmetic on this mask.
    - ``max_by(value, struct(nd, value))`` vs
      ``min_by(value, struct(-nd, value))``: the largest and smallest
      value *within the highest-precision bucket* (both key structs sort
      that bucket first), so "exactly one distinct value at max precision"
      is an equality test — no per-bucket min/max pairs.
    - ``min(parses-as-number)``, ``min(allow)``: group gates.
    - ``max_by(struct(row), struct(nd, num, value))``: the winner row.

    Per-precision string min/max buffers instead (~20 aggregates) made
    the aggregate rows ~3× wider and the composed fact pipeline ~50%
    slower at sf0.1. The aggregate reuses an existing clustering on any
    prefix of ``keys``.

    Distinctness is tested with min==max within the top bucket and a
    presence *bitmask* (never counts), so the aggregate is
    multiplicity-insensitive: exact duplicates of ``(keys, value)``
    collapse for free and a separate A2 pass is NOT required for
    correctness (construct_table drops a full-relation HashAggregate on
    the strength of this). On exact-deduped input the semantics are
    bit-identical to the reference's post-drop_duplicates resolve. The
    resolved relation holds exactly one row per key.

    ``numeric_names``: values of the ``name`` column whose *declared* type
    is numeric; precision resolution only applies to those groups.
    Default (None): all groups.

    The errors relation is a separate consumer (semi-join of conflicted
    keys back onto the input, then ``collect_set``): conflicts are the
    cold path, and keeping collection out of the hot aggregate keeps the
    resolved plan free of ObjectHashAggregate.
    """
    key_sql = ", ".join(bq(k) for k in keys)
    value = bq(value_col)
    allow = "TRUE" if numeric_names is None else in_list("`name`", numeric_names)
    # The parsed double and its digit count are computed ONCE in a
    # projection: ``_ndigits_sql`` is a 7-deep CASE of round() probes, and
    # referencing it from every aggregate would re-evaluate it per
    # aggregate per row (measured 1.4× slower on the fact pipeline).
    num_sql = f"try_cast({value} AS double)"
    staged = (
        f"SELECT *, {num_sql} AS __num, "
        f"{_ndigits_sql(num_sql, max_precision)} AS __nd, {allow} AS __allow "
        f"FROM {src}"
    )
    payload = ", ".join(bq(c) for c in columns if c not in keys)
    agg = (
        f"SELECT {key_sql}, "
        "min(__num IS NOT NULL) AS __all_num, "
        "min(__allow) AS __allow_all, "
        "bit_or(shiftleft(1L, __nd)) AS __ndmask, "
        f"max_by({value}, struct(__nd, {value})) AS __hi_max, "
        f"min_by({value}, struct(-__nd, {value})) AS __hi_min, "
        f"max_by(struct({payload}), struct(__nd, __num, {value})) AS __row "
        f"FROM ({staged}) AS __staged GROUP BY {key_sql}"
    )
    # Post-aggregation bit arithmetic on the bucket mask (nonzero by
    # construction: every row sets a bit; its highest set bit is the
    # group's max precision, the others are the runner-up buckets).
    # Resolvability (reference datapackage.py:563-572): a p in
    # 0..max_precision-1 must isolate exactly one value with
    # round(v,p) != v ⇔ the top bucket holds one distinct value AND either
    # there is no runner-up (the mask is a power of two: a single value)
    # or every runner-up is at precision ≤ max_precision-1 — false exactly
    # when buckets max_precision and max_precision+1 are both present.
    top_two = 3 << max_precision
    stats = (
        "SELECT *, (__hi_max = __hi_min) AND ((__ndmask & (__ndmask - 1)) = 0 OR "
        f"(__allow_all AND __all_num AND (__ndmask & {top_two}) != {top_two})) "
        f"AS __ok FROM ({agg}) AS __agg"
    )
    # Key columns come from the grouping attributes (preserves the output
    # partitioning/ordering for downstream prefix-keyed operators — see
    # dedup_exact_keep); only non-key columns come out of the struct.
    winner_cols = ", ".join(
        bq(c) if c in keys else f"__row.{bq(c)} AS {bq(c)}" for c in columns
    )
    resolved = f"SELECT {winner_cols} FROM ({stats}) AS __stats WHERE __ok"
    errors = (
        f"SELECT {key_sql}, sort_array(collect_set({value})) AS `values` "
        f"FROM {src} LEFT SEMI JOIN "
        f"(SELECT {key_sql} FROM ({stats}) AS __stats WHERE NOT __ok) AS __bad "
        f"USING ({key_sql}) GROUP BY {key_sql}"
    )
    return resolved, errors


@dataclass
class FuzzyDedupResult:
    resolved: DataFrame  # one row per key: original columns, winning value
    errors: DataFrame  # conflicted keys + collected values


def fuzzy_dedup(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
    max_precision: int = 6,
    numeric_names: list[str] | None = None,
) -> FuzzyDedupResult:
    """A3: resolve near-duplicate numeric facts to the uniquely-most-precise
    value; non-resolvable groups go to ``errors``. The rule and its
    arguments are :func:`fuzzy_dedup_sql`'s, run over ``df``."""
    spark = df.sparkSession
    with temp_view(df) as view:
        resolved, errors = fuzzy_dedup_sql(
            bq(view), df.columns, keys, value_col, max_precision, numeric_names
        )
        return FuzzyDedupResult(resolved=spark.sql(resolved), errors=spark.sql(errors))
