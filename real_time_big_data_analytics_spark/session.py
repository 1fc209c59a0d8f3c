"""SparkSession factory.

Mirrors the reference's session setup (local master + log suppression,
reference ConsumerESFinal.scala:18-19,30) but configured for the Spark-3
execution model:

- AQE on: runtime shuffle coalescing, skew-join splitting, and
  broadcast-join conversion — the scale levers Catalyst applies for us.
- ``spark.sql.shuffle.partitions`` sized to local cores; on a real
  1000-executor cluster this would be ~2-3x total cores and AQE
  coalesces down from there.
- UTC session timezone so event-time semantics are oracle-comparable
  (DuckDB timestamps are naive/UTC).
- Arrow enabled for the (rare) pandas-UDF paths and fast toPandas.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:")) // 1024


# Fit the host unless the env says otherwise: every core this process
# may run on, and a quarter of physical memory for the driver JVM.
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "rtba-spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is one JVM; on a cluster the same config applies, with
    ``spark.sql.adaptive`` doing the runtime re-planning that makes the
    static ``shuffle.partitions`` choice non-critical.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or f"{max(1024, _host_memory_mb() // 4)}m",
        )
        # Streaming state at harness scale uses the default HDFS-backed
        # store; at 100 TB flip to RocksDB:
        # spark.sql.streaming.stateStore.providerClass=
        #   org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
