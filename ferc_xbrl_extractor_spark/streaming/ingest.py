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

Downstream of the shred, the per-table pipeline (operators.fact_table) is a
keyed aggregate, which on a stream becomes the G12 stateful surface; the
append-mode path here is for the common sink shape (land raw facts
partitioned by filing, compact later) where each filing's facts are
complete within its microbatch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ferc_xbrl_extractor_spark.catalog.tablespec import TableSpec
from ferc_xbrl_extractor_spark.operators.fact_table import construct_table
from ferc_xbrl_extractor_spark.sources.shredder import facts_from, shred_filings


def stream_filings_dir(
    spark: SparkSession,
    path: str,
    pattern: str = "*.xbrl",
    fact_prefix: str = "ferc",
    max_files_per_trigger: int | None = None,
    mtime_as_publication_time: bool = False,
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
        mtime_as_publication_time: stamp ``publication_time`` from the
            file's mtime (the directory-scan analogue of the rssfeed
            publication time, F6/F7). Default leaves it null, matching the
            batch dir scan; deterministic pipelines should prefer an
            explicit rssfeed sidecar.
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
    pub = (
        F.col("modificationTime")
        if mtime_as_publication_time
        else F.lit(None).cast("timestamp")
    )
    filings = raw.select(
        F.regexp_replace(
            F.element_at(F.split(F.col("path"), "/"), -1), r"\.[^.]*$", ""
        ).alias("filing_name"),
        F.col("content"),
        pub.alias("publication_time"),
        F.lit(None).cast("string").alias("taxonomy_version"),
    )
    return shred_filings(filings, fact_prefix)


def stream_extract_to_parquet(
    spark: SparkSession,
    landing_path: str,
    specs: dict[str, TableSpec],
    output_path: str,
    checkpoint_path: str,
    pattern: str = "*.xbrl",
    fact_prefix: str = "ferc",
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuous extract: landing dir -> per-table parquet, incrementally.

    The batch pipeline per table is a keyed aggregate over (filing_name,
    c_id) — and a filing's facts are complete within the microbatch that
    shredded it (the file source hands over whole files), so the aggregate
    needs NO cross-batch state: ``foreachBatch`` runs the unchanged
    ``construct_table`` on each increment and appends
    ``{output}/{table}/filing_name=.../*.parquet``.

    Replay safety: the file-source checkpoint makes delivery at-least-once
    into ``foreachBatch``; partitioning by ``filing_name`` with dynamic
    partition overwrite makes the write idempotent per filing (a replayed
    batch rewrites exactly its own filings' partitions, never appends
    duplicates) — together, effectively-once per filing. Partitioning by
    filing also gives readers partition pruning per filing, the layout a
    rolling 100-TB archive wants.
    """
    shredded = stream_filings_dir(
        spark,
        landing_path,
        pattern=pattern,
        fact_prefix=fact_prefix,
        max_files_per_trigger=max_files_per_trigger,
    )

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One shred pass shared by all table plans of this increment
        # (the batch-mode persist-once pattern, per increment).
        batch_df = batch_df.persist()
        try:
            facts = facts_from(batch_df)
            for name, spec in specs.items():
                # filing_name is part of every table's primary key, so the
                # built table partitions directly by it.
                table = construct_table(facts, spec)
                (
                    table.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("filing_name")
                    .parquet(os.path.join(output_path, name))
                )
        finally:
            batch_df.unpersist()

    writer = (
        shredded.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
