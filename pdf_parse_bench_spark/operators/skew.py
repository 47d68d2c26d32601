"""Skew handling for UDF stages (north_rule: salted repartitioning on doc_id).

AQE's skew-join splitting does not cover pandas-UDF stage skew (a 50x-sized
document stalls one task, invisible to the optimizer — SURVEY.md §4). Design
constraint: nothing here may serialize through the driver or a single-
partition global sort — a `Window.orderBy(size)` bin-packer would be exact
but is a deliberate non-choice at 10^12 docs. Instead:

  - rebalance_by_size: hash-uniform spread, except oversized rows (size >
    quantile-derived threshold) are isolated into their own partition slots
    so one giant document never shares a task with thousands of normal ones.
    Fully parallel: one approxQuantile pass + one shuffle.
  - spread_for_kernel: one hash repartition on doc_id when a single-row-
    group scan would otherwise run a kernel stage as one task (size-gated,
    a no-op on already-parallel scans).
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


def spread_for_kernel(df: DataFrame, key: str = "doc_id",
                      min_bytes: int | None = None) -> DataFrame:
    """Ensure a per-row kernel stage engages every core (guide §2.5 "input
    skew": one huge unsplittable file).

    The sf fixture tables are written as a SINGLE parquet row group, which
    no maxPartitionBytes / minPartitionNum setting can split — so the scan
    stage (and any per-doc kernel fused into it) runs as ONE task no matter
    the cluster size. When the scan already has at least one partition per
    core (the 100 TB layout: thousands of files/row groups), this is a
    no-op — no exchange is added; otherwise one hash repartition on `key`
    spreads the rows. Partition count derives from defaultParallelism, not
    a local constant, and the hash key is a stable column (replay-safe
    under task retry, unlike round-robin of nondeterministic input).

    Inputs below `min_bytes` (catalyst size estimate; default
    MIN_SPREAD_BYTES) are also left alone: for a few MB the shuffle +
    many-task python overhead exceeds the parallelism win (measured at
    sf0.1), and a single task finishes in well under a second anyway —
    the gate derives from input size, never from a fixed core count.
    Call sites whose kernels do heavy per-row CPU (md5 shingling,
    trigram counting, plane folds) pass HEAVY_KERNEL_MIN_BYTES: for
    those, compressed bytes understate the work by orders of
    magnitude."""
    if min_bytes is None:
        min_bytes = MIN_SPREAD_BYTES
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    if df.rdd.getNumPartitions() >= n:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        size = min_bytes
    if size < min_bytes:
        return df
    return df.repartition(n, key)


MIN_SPREAD_BYTES = 4 * 1024 * 1024
HEAVY_KERNEL_MIN_BYTES = 1024 * 1024

