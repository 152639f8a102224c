"""Tuned SparkSession profile.

The reference (Sol) gets its wins from execution-layer mechanisms: task
pipelining (/root/reference/core/.../scheduler/DAGScheduler.scala:190-238),
shuffle decoupling and proactive push of small shuffle partitions
(/root/reference/core/.../storage/BlockManager.scala:216-228). A PySpark
engine cannot patch the scheduler; the idiomatic equivalents are AQE
(runtime re-planning, partition coalescing, skew-join splitting), generous
broadcast thresholds (avoid the shuffle entirely — the strongest form of
"proactive push"), and Arrow-vectorized Python interop. This module is the
single place where that profile lives.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local cores: ``$SPARK_GRAFT_CPUS``, else the cores this process may
    run on (its CPU affinity, which a container's cpuset narrows)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else a quarter of
    ``MemTotal`` (at least 1 GB). The rest is left to Python workers,
    off-heap buffers and the page cache, which matters on a machine
    without swap."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, mem_kb // 1024 // 4)}m"


def session_builder(
    app_name: str = "solspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Builder with the solspark config profile applied.

    Scale notes (designed for a 1000-executor / 100 TB deployment, tested on
    local[32]):
      * AQE on: coalesces post-shuffle partitions sized by
        ``advisoryPartitionSizeInBytes`` and splits skewed join partitions —
        the modern, upstreamed analog of the reference's ExchangeCoordinator
        (/root/reference/sql/core/.../exchange/ExchangeCoordinator.scala:85).
      * autoBroadcastJoinThreshold raised to 64 MB: every TPC-H dimension
        (region/nation/customer/supplier/part) broadcasts even at large SF,
        so fact-table joins are shuffle-free map-side joins.
      * shuffle.partitions is a default, not a law — AQE re-coalesces. On a
        real cluster set it ~2-3x total cores.
      * Arrow enabled for every pandas-UDF boundary (the LLM operators).
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.ansi.enabled", "false")
        # Driver-generated fixtures carry nanosecond parquet timestamps;
        # read them as long and rebuild (see tables._read).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder


def get_session(app_name: str = "solspark", master: str | None = None) -> SparkSession:
    """Get-or-create a session with the solspark profile.

    ``master`` defaults to ``local[default_cpus()]`` when no cluster is
    configured; on a real cluster, leave it unset and submit normally.
    """
    builder = session_builder(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{default_cpus()}]"
    if master:
        builder = builder.master(master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
