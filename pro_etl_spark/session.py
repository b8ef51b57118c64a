"""SparkSession construction for tests/bench (the driver provides its
own session for queries(); this builder mirrors the driver posture).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from pro_etl_spark.registry import RUNTIME_CONFS


def default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 48g. Local mode runs
    the executors in the driver's heap, so the heap is the whole
    engine's memory; the other half stays for the Python workers, the
    page cache and the JVM's off-heap use."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 48 * 1024)}m"


def get_spark(app_name: str = "pro_etl_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()
