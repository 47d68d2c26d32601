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
from pyspark.sql.types import StructType


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema of a parquet file or directory, from its footer,
    read in this process. None where the footer's arrow view would type a
    column unlike Spark does: INT96, Spark's default timestamp encoding,
    which arrow reads as a naive timestamp (Spark: TIMESTAMP), and
    unsigned ints, which the arrow mapping rejects."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = pq.ParquetDataset(path)
    if any(c.physical_type == "INT96"
           for c in pq.ParquetFile(footer.files[0]).schema):
        return None
    try:
        return from_arrow_schema(footer.schema, prefer_timestamp_ntz=True)
    except TypeError:
        return None


def read_fixture(spark: SparkSession, fixture_dir, name: str) -> DataFrame:
    """S1/S4: parquet scan of `<fixture_dir>/<name>.parquet` — Catalyst
    column pruning + predicate pushdown apply automatically; keep `select`
    narrow at call sites. The schema comes from the parquet footer
    (``_footer_schema``), so building the frame runs no Spark job; only
    where the footer cannot give Spark's types does Spark read the
    schema itself, in a job."""
    path = os.path.join(str(fixture_dir), f"{name}.parquet")
    schema = _footer_schema(path)
    return (spark.read if schema is None else spark.read.schema(schema)
            ).parquet(path)


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
