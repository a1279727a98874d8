"""Drain a streaming frame into the in-memory sink.

The streaming operators in this package (``stateful``, ``quality``,
``ingest``) return streaming DataFrames; :func:`run_stream_to_memory`
runs one to completion (``availableNow``) so a query or a test can read
its result back as a table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def run_stream_to_memory(
    stream: DataFrame, query_name: str, output_mode: str = "append"
) -> "object":
    """Test/debug harness: drain a streaming frame into the in-memory sink.
    Returns the StreamingQuery; caller awaits + reads ``SELECT * FROM
    <query_name>``."""
    return (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
