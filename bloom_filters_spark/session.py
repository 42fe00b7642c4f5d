"""Tuned local SparkSession factory.

Local mode = single JVM; the configs still encode the cluster-scale
intent (AQE on, shuffle partitions sized to cores, Arrow on) so the same
code runs unchanged under spark-submit on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_resources(env=os.environ) -> tuple[int, str]:
    """→ (cores, driver memory) for a session on this machine: the
    CPUs this process may run on and half of physical RAM, unless
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override them."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return (int(env.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))),
            env.get("SPARK_GRAFT_DRIVER_MEM", f"{ram // 2 >> 20}m"))


def get_spark(app: str = "bloom_filters_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    default_cores, driver_mem = default_resources()
    if cores is None:
        cores = default_cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    return (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
