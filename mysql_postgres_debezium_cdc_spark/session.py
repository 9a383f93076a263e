"""SparkSession construction for local bench/test runs.

Local mode stands in for a 1000-executor cluster: the confs below are the
ones that transfer (AQE, shuffle partitioning, Arrow, broadcast threshold);
``local[N]`` itself is only the test harness.  At 100 TB the same session
confs apply, with ``spark.sql.shuffle.partitions`` sized ≈ 2-3× total cores
and AQE coalescing handling the rest at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from mysql_postgres_debezium_cdc_spark.registry import ensure_session_confs


def _default_driver_memory() -> str:
    """Half the host's RAM, capped at 48g: a heap sized past the host
    lets one long-lived session (a whole test run) grow until the OS
    kills its JVM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(48 * 1024, kb // 2048)}m"


def get_session(app_name: str = "mysql-postgres-debezium-cdc-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
