"""Incremental filing ingestion (S-series on streams): watch a directory,
shred new XBRL filings as they land, append facts downstream.

The reference processes a fixed archive per run
(/root/reference/src/ferc_xbrl_extractor/xbrl.py:28-81 walks a directory
once); at cluster scale the natural deployment is continuous — FERC posts
filings all quarter, and re-extracting the full archive per filing is
O(archive) work for O(1) new data. Structured Streaming's file source
gives exactly-once incremental semantics for free: the checkpoint records
which files are done, ``maxFilesPerTrigger`` bounds per-batch work, and the
same per-filing shred kernel runs unchanged on the stream (one filing is
one input row). Batch and stream share the kernel, not the plan: the batch
extract shreds in one pass over its file listing (``shred_paths``), the
stream through ``shred_filings`` over its file rows, and both produce
identical rows — pinned by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.sources.shredder import shred_filings


def stream_filings_dir(
    spark: SparkSession,
    path: str,
    pattern: str = "*.xbrl",
    fact_prefix: str = "ferc",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming shredded relation over a landing directory.

    Args:
        path: directory the filings land in (the file source tracks
            completed files in the checkpoint — a filing is processed
            exactly once even across restarts).
        pattern: glob applied source-side (S5 name pushdown: non-matching
            files are never opened).
        max_files_per_trigger: bound filings per microbatch — backfill of a
            large archive proceeds in bounded-memory increments instead of
            one giant batch.

    A loose filing has no publication time, as in the batch directory scan
    (the file mtime changes on copy, and publication_time is part of every
    table's primary key).
    """
    # The file source needs the schema up front (no inference on streams);
    # binaryFile's is fixed.
    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    filings = raw.select(
        F.regexp_replace(
            F.element_at(F.split(F.col("path"), "/"), -1), r"\.[^.]*$", ""
        ).alias("filing_name"),
        F.col("content"),
        F.lit(None).cast("timestamp").alias("publication_time"),
        F.lit(None).cast("string").alias("taxonomy_version"),
    )
    return shred_filings(filings, fact_prefix)
