"""Source/sink helpers (SURVEY.md §2 S1-S7).

On this sandbox everything is parquet; on a cluster the same call sites
switch to Iceberg (`spark.read.format("iceberg")`, `writeTo(...).append()`)
— the format is a parameter, the plans are identical. Iceberg-specific
bits (bucket(doc_id) partitioning, overwritePartitions) are documented at
the call sites and gated on catalog availability.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_fixture(spark: SparkSession, fixture_dir, name: str) -> DataFrame:
    """S1/S4: parquet scan of `<fixture_dir>/<name>.parquet` — Catalyst
    column pruning + predicate pushdown apply automatically; keep `select`
    narrow at call sites."""
    return spark.read.parquet(os.path.join(str(fixture_dir), f"{name}.parquet"))


def read_pdf_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Raw-PDF variant of S1: binaryFile source over a directory of PDFs
    (reference glob loop pipeline/pipeline.py:68). Returns (doc_id, pdf_bytes)
    with doc_id = file stem, ordered deterministically (W2)."""
    from pyspark.sql import functions as F

    df = spark.read.format("binaryFile").load(path)
    return df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)\.pdf$", 1).alias("doc_id"),
        F.col("content").alias("pdf_bytes"),
    )


def write_spans(df: DataFrame, path: str) -> None:
    """S5/S6 sink (overwrites `path`). Iceberg form:
    df.writeTo(tbl).overwritePartitions() with PARTITIONED BY
    (bucket(256, doc_id)) for the 10^12-doc layout."""
    df.write.mode("overwrite").parquet(path)
