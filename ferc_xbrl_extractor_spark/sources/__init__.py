"""Filing sources: binaryFile scans over dirs/zips + the XML shredder."""

from ferc_xbrl_extractor_spark.sources.filings import scan_filings
from ferc_xbrl_extractor_spark.sources.shredder import (
    SHREDDED_SCHEMA,
    contexts_from,
    facts_from,
    shred_filings,
    shred_paths,
)

__all__ = [
    "scan_filings",
    "shred_filings",
    "shred_paths",
    "facts_from",
    "contexts_from",
    "SHREDDED_SCHEMA",
]
