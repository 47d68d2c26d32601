"""spark-submit entry point: end-to-end extraction job.

    spark-submit --master local-cluster[N,8,6144] \
        --py-files pdf_parse_bench_spark.zip \
        jobs/extract_job.py --input <parquet> [--replicate K] \
        [--output <dir>] [--checkpoint <dir>]

Reads a parsed_markdown parquet, computes corpus boilerplate, extracts
ordered spans (vectorized kernel in Arrow batches), optionally writes spans
+ per-partition lineage, and prints ONE JSON line with wall seconds and
docs/sec. With --replicate K the corpus is unioned K-fold (salted doc_ids)
so strong-scaling runs have enough parallel work; both cluster sizes see
the identical input.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--output", default=None)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark = SparkSession.builder.getOrCreate()
    from pdf_parse_bench_spark.operators.extract import (
        _collect_boilerplate,
        extract_spans,
    )
    from pdf_parse_bench_spark.operators.resume import (
        extract_with_lineage,
        lineage_of,
        ok_spans,
    )

    par = spark.sparkContext.defaultParallelism * 2
    md = spark.read.parquet(args.input)
    if args.replicate > 1:
        md = md.repartition(par).crossJoin(
            spark.range(args.replicate).select(F.col("id").alias("_c"))
        ).select(
            F.concat("doc_id", F.lit("#"), F.col("_c")).alias("doc_id"),
            "markdown",
        )
    md = md.cache()
    n_docs = md.count()

    best = float("inf")
    for _ in range(max(1, args.runs)):
        t0 = time.time()
        bp = _collect_boilerplate(md)
        if args.output:
            res = extract_with_lineage(md, boilerplate=bp).cache()
            try:
                ok_spans(res).write.mode("overwrite").parquet(args.output)
                if args.checkpoint:
                    lineage_of(res).write.mode("overwrite").parquet(
                        args.checkpoint)
            finally:
                res.unpersist()
        else:
            extract_spans(md, boilerplate=bp, rebalance=False).count()
        best = min(best, time.time() - t0)

    print(json.dumps({
        "sec": best,
        "docs": n_docs,
        "docs_per_sec": round(n_docs / best, 2),
        "executors": spark.sparkContext.getConf().get("spark.master"),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
