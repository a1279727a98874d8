"""Incremental upsert: keep the newest version of each key.

The reference rebuilds every output table from scratch on each run
(ref:cli.py:113-127 ``if_exists="replace"``); re-filed FERC filings are
simply newer rows that downstream consumers dedup by publication_time.
:func:`merge_latest_unioned` gives MERGE-style semantics as plain
DataFrame algebra: over existing and updated rows in one relation, keep
the newest version of each key with ONE ``max_by`` hash aggregate
(map-side combinable; no window sort, no join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_latest_unioned(
    both: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Upsert semantics as one aggregate over base and update rows already
    combined in ``both``: per key, the row with the greatest ``order_col``
    wins; keys present only in the updates are inserts, keys only in the
    base pass through.

    ``max_by(struct(cols), struct(order))`` gives a single two-phase hash
    aggregate whose shuffle carries |keys| rows — the same
    survivor-selection shape as dedup_exact_keep (operators/dedup.py),
    which round 3 measured 5x faster than the window formulation. Taking
    the rows already combined lets a caller produce base and updates from
    ONE scan (e.g. an in-place explode of conditional update structs, or
    a CDC log that already interleaves versions)."""
    payload = [c for c in both.columns if c not in keys]
    order = F.struct(F.col(order_col))
    merged = both.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), order).alias("_row")
    )
    return merged.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in payload])
