"""Spark-native bucketed tables — the executable local stand-in for the
Iceberg `bucket(256, doc_id)` layout (sources/iceberg.py documents the
catalog flavor; this module actually runs in this sandbox).

Why it matters at 100 TB: every stage of the extraction pipeline keys on
doc_id (extract → align cogroup → judge join → resume anti-join). Writing
each stage's output bucketed on doc_id makes all downstream equi-joins and
groupBys storage-partitioned: Catalyst sees compatible hash distributions
on both sides and plans SortMergeJoin with ZERO Exchange — the dominant
shuffle of the pipeline disappears (asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

N_BUCKETS = 8  # local demo size; 256 on the cluster (iceberg.py:21)


def write_bucketed(df: DataFrame, table: str,
                   n_buckets: int = N_BUCKETS,
                   path: str | None = None) -> None:
    """Persist as a parquet table bucketed + sorted on doc_id. Matching
    bucket counts on two tables co-locate their join keys at write time."""
    w = (df.write.mode("overwrite")
         .bucketBy(n_buckets, "doc_id").sortBy("doc_id")
         .format("parquet"))
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(df: DataFrame, path: str,
                      partition_col: str = "source") -> None:
    """Hive-style partitioned parquet layout (the path-prefix analog of the
    Iceberg identity partition): a filter on `partition_col` prunes whole
    directories at planning time — the scan's PartitionFilters line, not a
    post-scan Filter (asserted in tests/test_plans.py)."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
