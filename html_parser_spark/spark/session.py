"""SparkSession factory with scale-oriented defaults.

The sandbox runs ``local[N]`` in one JVM; the configs below are the ones that
matter identically on a 1000-executor cluster:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting);
* Arrow enabled with a LOW max batch size — parse-kernel rows carry whole
  HTML blobs (10KB-1MB each), so the default 10k-records batch would
  materialize gigabytes per Python worker; 64 rows stay under ~64 MB;
* shuffle partitions sized to cores (overridden by AQE coalescing);
* parquet files split at 64MB so a 100TB scan yields ~1.6M well-sized tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "html-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small batches: parse rows carry whole HTML blobs (10KB-1MB each);
        # 64 rows caps a batch at ~64MB even for megabyte pages, and 1024
        # measured no faster on 4 vCPUs (within noise, both UDF forms)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def active_spark(app_name: str) -> SparkSession:
    """The session a job runs in: the active one (spark-submit starts it
    preconfigured), else a local one from :func:`get_spark`."""
    spark = SparkSession.getActiveSession()
    return spark if spark is not None else get_spark(app_name=app_name)
