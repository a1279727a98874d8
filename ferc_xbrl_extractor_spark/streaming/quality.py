"""G58: windowed data-quality monitoring on streams — the G20 constraint
suite (``operators.quality.Check``) lifted to event-time windows, so an
ingest pipeline gets a per-window ``(constraint, metric, passed)`` report
as data arrives instead of discovering a bad crawl batch at training time.

The batch and streaming forms share the SAME compiled expressions
(``Check.metric`` aggregates + ``report_structs`` unpivot), so a suite
validated batch-side against the DuckDB oracle monitors the stream
unchanged.

Scale shape: one watermark-bounded windowed aggregation (state = one wide
row per open window), then a stateless explode into the tidy report —
no custom state, no Python. Constraints whose metric is an exact
count-distinct (``uniqueness(..., approx=False)``) are rejected by Spark
under streaming; use the HLL-backed ``approx=True`` form there.

No reference counterpart (the reference has no streaming at all —
SURVEY.md §2.9); the batch suite it lifts maps to the reference's ad-hoc
data-quality pytest assertions (ref:tests/integration/data_quality_test.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators.quality import (
    Check,
    report_structs,
    validate_suite,
)


def stream_check_constraints(
    events: DataFrame,
    ts_col: str,
    duration: str,
    checks: list[Check],
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Evaluate a constraint suite per event-time window over a stream.

    Returns ``(window_start, window_end, constraint, metric, passed)``,
    one row per (window, check); windows emit when the watermark closes
    them (append mode). ``slide`` turns the tumbling window into a
    sliding one (overlapping reports). Works identically on a batch
    DataFrame — the plan is the same windowed aggregate — which is what
    the oracle checks.
    """
    validate_suite(checks)
    win = (
        F.window(ts_col, duration, slide)
        if slide is not None
        else F.window(ts_col, duration)
    )
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    wide = src.groupBy(win.alias("w")).agg(
        *[c.metric.cast("double").alias(f"m{i}") for i, c in enumerate(checks)]
    )
    return wide.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.explode(report_structs(checks)).alias("r"),
    ).select(
        "window_start", "window_end", "r.constraint", "r.metric", "r.passed"
    )
