"""Sizing of kernel stages (north_rule: salted repartitioning on doc_id).

Every Python task costs a fixed 0.15-0.3 s on a 4-vCPU host, even when
its partition is empty: the worker waits for the JVM's header before it
sees a row. An identity ``mapInPandas`` over 2,000 rows takes 0.34-0.50 s
on 4 partitions, 0.64-0.81 s on 8, 0.93-1.10 s on 12 (also with 8 of the
12 empty) and 1.36 s on 16; the same 12-partition job without Python
takes 0.066 s. So a kernel stage should run as ONE wave of Python tasks
with no job before it, not as several waves behind an eager sample.
Nothing here may collect rows to one process or run a single-partition
global sort (a ``Window.orderBy(size)`` bin-packer is a deliberate
non-choice at 10^12 docs).

  - spread_for_kernel: the one sizing rule for kernel stages, applied by
    ``kernel_op`` to every kernel's input. It reads only the plan and
    runs no Spark job. The sf fixture tables are single parquet row
    groups that no maxPartitionBytes setting can split, so without the
    spread their kernel stage runs as one task. Other callers are the
    aggregation pre-spreads and the JVM stages and batch-matrix kernels
    that would otherwise run inside that one scan task.
  - rebalance_by_size: hash spread over two waves, plus a band of
    partitions that isolates the rows above an eagerly sampled p99 size.
    Nothing in the package calls it: on markdown and PDF every band
    variant lost to a plain one-wave hash (a band in the same wave made
    a straggler, one of its own cost a wave). perfbench's traced skew
    layers still time it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


BIG_QUANTILE = 0.99


def rebalance_by_size(df: DataFrame, size_col: Column) -> DataFrame:
    """Repartition so pandas-UDF tasks get balanced work.

    Normal rows: uniform hash spread over 2 x defaultParallelism
    partitions. Rows above the BIG_QUANTILE size threshold: spread over a
    dedicated extra band of partitions (one straggler cannot hide a
    thousand small docs behind it, and AQE cannot split a running Python
    task).
    """
    num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    sized = df.withColumn("_size", size_col)
    # r7: threshold from a BOUNDED-PREFIX sample (limit), not a fraction
    # sample. sample(0.01) still scans every row to flip its coin — at
    # 100 TB that second full read just picks a cutoff, and on the
    # single-row-group fixture files it decoded the whole payload column
    # in ONE task before the real pass even started (measured 1.5-3 s of
    # fixed cost per pdf/markdown query at sf1.0). limit(N) touches only
    # the first N rows of the first split(s). The p99 of an 8k-row prefix
    # is a good estimator whenever row order is not size-correlated (true
    # of every corpus here); a size-sorted adversarial layout would only
    # skew the BALANCE bands, never results.
    row = (sized.select("_size").limit(8192)
           .agg(F.percentile_approx("_size", BIG_QUANTILE, 1000)
                .alias("t")).first())
    threshold = float(row["t"]) if row and row["t"] is not None \
        else float("inf")
    n_big = max(4, num_partitions // 4)
    pid = F.when(
        F.col("_size") > F.lit(threshold),
        F.lit(num_partitions) + F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_big)),
    ).otherwise(F.pmod(F.xxhash64(F.col("doc_id"), F.lit(17)), F.lit(num_partitions)))
    return (
        sized.withColumn("_pid", pid)
        .repartition(num_partitions + n_big, "_pid")
        .drop("_size", "_pid")
    )


def spread_for_kernel(df: DataFrame, *keys: str,
                      min_bytes: int = 0) -> DataFrame:
    """Spread a kernel stage's input over one wave of Python tasks.

    Hashes on `keys` (``doc_id`` when none are given): stable columns, so
    the spread is replay-safe under task retry. No Spark job runs to
    decide; the input is left alone when

    1. it is a streaming frame, which has no partitions to count;
    2. its physical plan is adaptive, i.e. it already has an exchange (a
       groupBy, a join, a ``repartition``, or a cache of one of those):
       that shuffle placed the rows already, and counting its partitions
       through ``df.rdd`` would run it;
    3. otherwise ``n = min(defaultParallelism, ceil(catalyst size
       estimate / TASK_BYTES))`` and ``n <= 1`` or the input already has
       ``n`` partitions (the 100 TB layout: thousands of files and row
       groups). An input the optimizer cannot size counts as large.

    Inputs estimated below `min_bytes` are left alone. Only the
    pre-spreads that feed an aggregation pass it (MIN_SPREAD_BYTES):
    their exchange replaces the aggregation's own, and below 4 MB the
    spread traded 17-30% layout time for 9-22% more peak RSS."""
    if df.isStreaming:
        return df
    qe = df._jdf.queryExecution()
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(qe.optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = None
    if size is not None:
        if size < min_bytes:
            return df
        n = min(n, -(-size // TASK_BYTES))
    if (n <= 1 or qe.executedPlan().nodeName() == "AdaptiveSparkPlan"
            or df.rdd.getNumPartitions() >= n):
        return df
    return df.repartition(n, *(keys or ("doc_id",)))


# Input bytes per Python task. Swept over 16, 64, 128, 256 and 1024 KiB
# in local[4]: a 429 KB PDF input ran in 0.74 s on 4 tasks against 1.30 s
# unspread, and a 244 KB markdown input moved within noise. On the ~1 MB
# perfbench inputs (medians of 3 seeds), 256 KiB left pdf_extract 3
# tasks and cost it 7% of its docs/s; 1024 KiB left one task and cost
# pdf_extract 41% and md_extract 20%.
TASK_BYTES = 64 * 1024
MIN_SPREAD_BYTES = 4 * 1024 * 1024
