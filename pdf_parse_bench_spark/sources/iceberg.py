"""Iceberg table layer (gated — the runtime jar is absent in this sandbox,
so every call degrades to parquet with the same logical layout; on a cluster
with `iceberg-spark-runtime` on the classpath the exact same call sites run
against the catalog).

Table design for the 10^12-document corpus (north_rule):

  documents / parsed / extractions / scores — all PARTITIONED BY
  (bucket(256, doc_id)):
    * the extraction stages group/cogroup on doc_id → storage-partitioned
      joins, no shuffle between stages that share the bucketing;
    * the resume anti-join (checkpoint ⟕̸ inputs) is bucket-local;
    * compaction + snapshot expiry keep the span tables query-sized;
    * `overwritePartitions()` makes per-bucket re-runs idempotent (X7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

N_BUCKETS = 256


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def documents_ddl(table: str = "db.documents") -> str:
    return f"""
        CREATE TABLE IF NOT EXISTS {table} (
            doc_id STRING NOT NULL,
            spans ARRAY<STRUCT<kind: STRING, text: STRING,
                               media_ref: STRING, offset: INT>> NOT NULL
        ) USING iceberg
        PARTITIONED BY (bucket({N_BUCKETS}, doc_id))
        TBLPROPERTIES ('write.distribution-mode' = 'hash',
                       'write.target-file-size-bytes' = '536870912')
    """


def write_spans(df: DataFrame, target: str) -> None:
    """Iceberg: idempotent partition overwrite; parquet fallback otherwise.

    `target` is a catalog table name when Iceberg is up, else a path.
    """
    spark = df.sparkSession
    if iceberg_available(spark):
        df.writeTo(target).overwritePartitions()
    else:
        df.write.mode("overwrite").parquet(target)


def read_table(spark: SparkSession, source: str) -> DataFrame:
    if iceberg_available(spark):
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)
