"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same logical plans behave on local[32] for tests
and on a large cluster: AQE enabled (runtime coalesce, skew-join handling),
Arrow for any pandas exchange, UTC session timezone so timestamp semantics
match the DuckDB oracle, and a shuffle-partition count sized from the
available parallelism rather than Spark's static 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _driver_mem() -> str:
    """Driver heap: explicit SPARK_GRAFT_DRIVER_MEM, else min(24g, 60% of
    physical RAM) in MiB — a fixed 24g (with its 16g initial heap) cannot
    start on a smaller host."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(min(24 * 1024, phys_mb * 3 // 5), 1)}m"


def _driver_xms() -> str:
    """Initial heap: explicit SPARK_GRAFT_DRIVER_XMS, else 2/3 of the max
    heap (same unit suffix), else a safe 1g if the mem string is exotic."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_XMS")
    if explicit:
        return explicit
    mem = _driver_mem().strip().lower()
    if mem and mem[-1] in "kmgt" and mem[:-1].isdigit():
        return f"{max(int(mem[:-1]) * 2 // 3, 1)}{mem[-1]}"
    return "1g"


def get_spark(
    app_name: str = "ferc-xbrl-extractor-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    The master is ``SPARK_GRAFT_MASTER`` (a cluster deployment sets it;
    every setting here is advisory and cluster-safe), else local mode
    sized to SPARK_GRAFT_CPUS.
    """
    cpus = default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting; at 100 TB
        # this is what turns a static 32-partition plan into a sane one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-scale tuning: the 64MB default advisory size coalesces a
        # ~100MB shuffle onto 1-2 cores, serializing every post-shuffle
        # operator. 8MB keeps ~CPU-count partitions at test scale; a real
        # cluster deployment should raise this back toward 64-256MB.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Arrow for all pandas_udf / mapInPandas / toPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics == DuckDB naive-UTC reads.
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(cpus, 2) * 2),
        )
        # Dimension tables (region/nation/contexts-per-filing) are small;
        # raise the auto-broadcast ceiling so Catalyst picks BHJ for them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        # local mode: driver JVM == all executors; the 1g default heap GC-
        # thrashes with 32 task threads. Honored only at JVM launch — on a
        # real cluster the deployer's --driver-memory/--executor-memory win.
        .config("spark.driver.memory", _driver_mem())
        # Pin the initial heap to ~2/3 of the max: growing 1g -> 24g
        # mid-job causes full-GC spikes that dwarf the queries being
        # measured. Derived from the driver heap (never a hardcoded
        # 16g — that refuses to launch on hosts with less RAM); override
        # exactly with SPARK_GRAFT_DRIVER_XMS.
        .config("spark.driver.extraJavaOptions", f"-Xms{_driver_xms()}")
        # The janino generated-class cache defaults to 100 entries; a
        # session that cycles through 100+ distinct plans (the bench, the
        # selfcheck, any multi-query ETL driver) evicts and recompiles
        # codegen fragments continuously — single-threaded driver work
        # that stalls every executor. Sized for a many-plan session;
        # driver-metaspace-bounded (generated classes, not heap). NOTE:
        # this is a STATIC conf — it only takes effect when this call
        # creates the first SparkSession in the JVM; getOrCreate against
        # a pre-built session silently ignores it (same caveat as
        # driver-memory below).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # ContextCleaner only learns an RDD/broadcast is dead when the
        # JVM GCs its reference; with a large pinned heap (Xms above)
        # old-gen collections are rare, so localCheckpoint blocks from
        # completed queries accumulate for the default 30min interval
        # (measured: +4GB driver RSS across one bench run). 5min bounds
        # the block backlog on any long-lived session, local or cluster.
        # This injects a driver System.gc() every 5min — on very large
        # heaps or latency-sensitive sessions override it back via
        # extra_conf={"spark.cleaner.periodicGC.interval": "30min"}.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
