"""Parquet star-schema source with nanosecond-timestamp normalization.

Spark's parquet reader rejects INT64 TIMESTAMP(NANOS) columns
(PARQUET_TYPE_ILLEGAL) — a real-world hazard for data written by pandas/
Arrow with ns precision. This loader inspects the file footer driver-side
(one cheap metadata read per table, never a data scan), switches on the
``nanosAsLong`` legacy read path only when needed, and rebuilds proper
microsecond timestamps with integer arithmetic (``div 1000`` — not float
division, which loses precision above 2^53 ns ≈ 104 days of epoch time).

DuckDB performs the same ns→us truncation when reading such files, so both
engines observe identical instants — required for oracle comparisons.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ferc_xbrl_extractor_spark.operators.sqltext import bq

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _file_meta(path: str) -> tuple[list[str], int, int, int]:
    """(nano timestamp columns, num_rows, num_row_groups, file_bytes) from
    the footer."""
    import os

    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
    except Exception:
        return [], 0, 1, 0
    nano = [f.name for f in pf.schema_arrow if str(f.type) == "timestamp[ns]"]
    return nano, pf.metadata.num_rows, pf.num_row_groups, os.path.getsize(path)


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    repartition_cols: list[str | Column] | None = None,
    repair: bool = True,
) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet`` with ns-timestamp repair and
    row-group-aware re-parallelization.

    A parquet file is only splittable at row-group boundaries: a large file
    written as ONE row group (pandas/Arrow default for modest frames) scans
    as ONE task no matter how many cores the cluster has, and everything
    computed on top of the scan serializes. When the footer shows
    many-rows-few-groups, insert a repartition right after the scan so
    downstream work parallelizes.

    ``repartition_cols``: when the caller knows the first shuffle key of
    its plan (an aggregation or join key), hash-repartitioning on it here
    makes the repair shuffle *be* that shuffle — the aggregate then plans
    as a single complete pass with no second exchange (measured 3-4×
    faster than round-robin + partial/final at sf0.1). Round-robin is the
    keyless fallback. Entries may be *expressions*, not just column
    names: repartitioning on an expression the consumer later aliases
    still registers as hash-partitioning on the alias (ProjectExec's
    alias-aware output partitioning), so a derived-key pipeline can fuse
    its repair shuffle with its semantic shuffle too.

    Note: reading a TIMESTAMP(NANOS) file flips ``nanosAsLong`` for the
    whole session and it stays set — execution consults the conf lazily,
    so restoring it right after this call would break the very read it
    enabled. Route all star-table reads through this function (it always
    rebuilds proper microsecond timestamps) rather than raw
    ``spark.read.parquet``.
    """
    from ferc_xbrl_extractor_spark.session import default_parallelism

    path = f"{sf_dir}/{name}.parquet"
    nano_cols, num_rows, row_groups, file_bytes = _file_meta(path)
    if nano_cols:
        spark.conf.set(NANOS_CONF, "true")
    df = spark.read.parquet(path)
    cpus = default_parallelism()
    # Rows OR bytes: a "small" table by row count can still be heavy per
    # row (documents' text, embeddings' vectors — 0.5 MB compressed
    # explodes into ~260k shingles × 12 md5s) — leaving its scan at one
    # task serializes every compute-amplifying consumer (shingling,
    # signatures, dot products). The byte bar is deliberately low: a
    # sub-MB round-robin shuffle costs ~nothing, a single-task map stage
    # costs the whole cluster.
    # A caller-supplied key is applied UNCONDITIONALLY: the caller is
    # declaring its plan's first shuffle key, and downstream operators
    # (e.g. construct_table(input_clustered=True)) rely on the clustering
    # being there — at any size. Below the repair threshold the keyed
    # shuffle merely replaces the ENSURE_REQUIREMENTS exchange Catalyst
    # would insert anyway; above it, it doubles as the parallelization
    # repair. Round-robin repair stays size-gated.
    # ``repair=False`` opts a consumer out of the round-robin repair:
    # right for plans whose FIRST operator is already a wide aggregate
    # over trivially-computed columns (the exchange parallelizes
    # everything downstream anyway, so the repair shuffle is a pure
    # extra pass over the data) — and doubly so for iterative operators
    # that eagerly checkpoint a subplan, which re-pay the repair
    # exchange non-adaptively at checkpoint time (measured on G65
    # pagerank at sf0.1: 1.97s with repair, 0.78s without). A
    # caller-supplied key still wins over the flag.
    if repartition_cols:
        df = df.repartition(
            cpus,
            *[F.col(c) if isinstance(c, str) else c for c in repartition_cols],
        )
    elif repair and (
        num_rows >= 100_000 or file_bytes >= 512 << 10
    ) and row_groups < cpus // 2:
        df = df.repartition(cpus)
    for c in nano_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({bq(c)} div 1000)"))
    return df
