"""SparkSession factory tuned for the extraction workload.

Local testing runs on local[N]; the same config block is what we'd ship to a
1000-executor cluster via spark-submit (AQE on for runtime re-planning and
skew-join splitting, Arrow on for all pandas-UDF exchange, shuffle partitions
sized ~2-4x total cores — SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "pdf-parse-bench-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, 2 * cores)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
