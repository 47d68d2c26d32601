"""Sizing of kernel stages (north_rule: salted repartitioning on doc_id).

Every Python task pays a fixed cost, even when its partition is empty.
Most of it was pyspark's own: ``worker_util.setup_spark_files`` ends each
task with ``importlib.invalidate_caches()``, which on CPython 3.11 makes
each of a worker's 16 ``zipimporter``s re-read the 1,328-entry directory
of ``pyspark.zip`` (0.15 s of one core per task). ``worker_daemon`` now
re-reads an archive only when it changed. Identity ``mapInPandas`` over
2,000 rows, local[4] on 4 vCPUs, warm, medians of 7: 0.31 s on 4
partitions, 0.32 s on 8, 0.35 s on 12 and 0.40 s on 16, against 0.36,
0.47, 0.67 and 0.95 s with the re-reads; the same 12-partition job
without Python takes 0.066 s. A task still costs a share of a wave, and
an eager sample costs a job, so a kernel stage runs as ONE wave of
Python tasks with no job before it.
Nothing here may collect rows to one process or run a single-partition
global sort (a ``Window.orderBy(size)`` bin-packer is a deliberate
non-choice at 10^12 docs).

  - spread_for_kernel: the one sizing rule for kernel stages, applied by
    ``kernel_op`` to every kernel's input. It reads only the plan and
    runs no Spark job. The sf fixture tables are single parquet row
    groups that no maxPartitionBytes setting can split, so without the
    spread their kernel stage runs as one task. The other callers are
    stages that would otherwise run inside that one scan task:
    ``similarity.map_embeddings`` (the batch-matrix twin of kernel_op),
    ``similarity._with_norm`` and ``textstats.tfidf_top_terms``' word
    explode (JVM stages), the three aggregation pre-spreads in
    ``extract.py``, ``pdf_encrypt_audit``'s spread ahead of its password
    join, and two JVM queries in ``__spark_entry__.py``.
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
       through ``df.rdd`` would run it. AQE coalesces a groupBy's or a
       join's output to ``max(total bytes / defaultParallelism,
       TASK_BYTES)`` per task, the same rule (session.get_spark sets that
       floor); a ``repartition(n)`` keeps its n;
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
    size = size_estimate(df)
    if size is not None:
        if size < min_bytes:
            return df
        n = min(n, -(-size // TASK_BYTES))
    if (n <= 1 or qe.executedPlan().nodeName() == "AdaptiveSparkPlan"
            or df.rdd.getNumPartitions() >= n):
        return df
    return df.repartition(n, *(keys or ("doc_id",)))


def size_estimate(df: DataFrame) -> int | None:
    """Catalyst's size estimate of `df` in bytes, without a job; None when
    the optimizer cannot size it."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return None


# Input bytes per Python task. Swept over 16, 64, 128, 256 and 1024 KiB
# in local[4]: a 429 KB PDF input ran in 0.74 s on 4 tasks against 1.30 s
# unspread, and a 244 KB markdown input moved within noise. On the ~1 MB
# perfbench inputs (medians of 3 seeds), 256 KiB left pdf_extract 3
# tasks and cost it 7% of its docs/s; 1024 KiB left one task and cost
# pdf_extract 41% and md_extract 20%.
TASK_BYTES = 64 * 1024
MIN_SPREAD_BYTES = 4 * 1024 * 1024
