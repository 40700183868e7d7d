"""SparkSession factory tuned for the frontier workload.

Local mode stands in for a multi-executor cluster in this sandbox; the same
configs (AQE, skew-join, Arrow) are what we would ship to a real cluster via
``spark-submit --py-files`` (see ``jobs/crawl_job.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of this host's physical RAM: the driver JVM shares the box with
    its Python UDF workers, and a heap larger than RAM lets the kernel
    OOM-kill the process before Spark spills."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 // 2**20}m"


def build_session(
    master: str = "local[*]",
    app_name: str = "bodhium_webscrapper_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        # match parallelism of the master, not the 200 default
        if master.startswith("local[") and master != "local[*]":
            try:
                shuffle_partitions = int(master[len("local[") : -1])
            except ValueError:
                shuffle_partitions = 32
        else:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # CPU-heavy UDF scans (html extraction) want MORE, SMALLER splits
        # than the 128m default: with ~#cores-sized splits the last task
        # round runs near-empty (measured: 19 splits on 16 cores = 2 task
        # rounds, scaling efficiency capped at ~0.6; 32m splits → 0.90)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
