"""Structured Streaming surface: incremental filing ingestion, custom
stateful operators (G12) via ``applyInPandasWithState``, and per-window
constraint checks."""

from ferc_xbrl_extractor_spark.streaming.ingest import stream_filings_dir
from ferc_xbrl_extractor_spark.streaming.quality import (
    stream_check_constraints,
)
from ferc_xbrl_extractor_spark.streaming.stateful import (
    stream_asof_enrich,
    stream_dedup_first,
    stream_neardup_suppress,
)
from ferc_xbrl_extractor_spark.streaming.windows import run_stream_to_memory

__all__ = [
    "run_stream_to_memory",
    "stream_asof_enrich",
    "stream_check_constraints",
    "stream_dedup_first",
    "stream_filings_dir",
    "stream_neardup_suppress",
]
