"""Extract lifecycle + sinks."""

from ferc_xbrl_extractor_spark.pipeline.extract import ExtractResult, extract

__all__ = ["extract", "ExtractResult"]
