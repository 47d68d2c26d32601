"""Checkpointed, resumable extraction with per-partition lineage
(north_rule: per-partition checkpointed lineage + extraction-quality
metrics so failed partitions resume idempotently).

Design (SURVEY.md §4 "skip-existing" → anti-join):
  - every stage writes its outputs AND a lineage row per document
    (stage, partition_id, doc_id, status, error, n_spans);
  - a resume pass computes pending = inputs ⟕̸ checkpoint(status='ok')
    (left_anti) and re-runs only those — idempotent because output is
    keyed by doc_id and rewritten per doc;
  - UDFs never abort the job: per-document try/except turns failures into
    status='error' lineage rows (X4, pipeline/pipeline.py:80-84);
  - the kernel returns ONE row per document (status, error, spans array;
    operators/kernel.py's fan-out convention): the lineage row is a
    projection of it and the span rows are its array inlined in the JVM,
    so a zero-span or failed doc needs no placeholder span and the
    lineage needs no groupBy.

The checkpoint is a parquet directory (append-only); on a real cluster it
is an Iceberg table with `bucket(doc_id)` partitioning so the anti-join is
storage-partitioned and shuffle-free.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pdf_parse_bench_spark.kernels.markdown import parse_markdown
from pdf_parse_bench_spark.operators.extract import _collect_boilerplate
from pdf_parse_bench_spark.operators.kernel import kernel_op

STAGE = "extract"


def _lineage_rows(doc_id: str, md: str, boilerplate: frozenset[str],
                  fail_docs: frozenset[str]) -> list[dict]:
    """One doc's single lineage row: status='ok' with its spans — none
    for an empty / all-boilerplate doc, which still checkpoints, so
    pending() does not re-select it forever — or status='error' with
    repr(exc) and no spans when parsing raised."""
    try:
        if doc_id in fail_docs:
            raise RuntimeError("injected failure")
        spans = parse_markdown(md, boilerplate)
    except Exception as exc:  # X4: isolate, never abort
        return [{"status": "error", "error": repr(exc), "spans": []}]
    return [{"status": "ok", "error": None, "spans": spans}]


def extract_with_lineage(
    md_df: DataFrame,
    boilerplate: frozenset[str] | None = None,
    fail_docs: frozenset[str] = frozenset(),
) -> DataFrame:
    """Extraction that never aborts: one row per document with its
    status, error and spans array (empty for a failed doc). The
    boilerplate is collected from `md_df` when not given, as in
    extract_spans. `fail_docs` injects deterministic failures for resume
    tests. partition_id is read right after the map stage — no exchange
    in between, so it is the task that ran the kernel."""
    if boilerplate is None:
        boilerplate = _collect_boilerplate(md_df)
    bp = md_df.sparkSession.sparkContext.broadcast((boilerplate, fail_docs))
    docs = kernel_op(
        md_df, lambda doc_id, md: _lineage_rows(doc_id, md, *bp.value),
        "status string, error string, spans array<struct<offset:int, "
        "kind:string, text:string, media_ref:string>>",
        args=["doc_id", "markdown"])
    return docs.select("doc_id",
                       F.spark_partition_id().alias("partition_id"),
                       "status", "error", "spans")


def ok_spans(result: DataFrame) -> DataFrame:
    """The span rows of a lineage-annotated result, fanned out in the
    JVM; failed docs are lineage only, never output."""
    return (result.where(F.col("status") == "ok")
            .select("doc_id", F.inline("spans")))


def lineage_of(result: DataFrame) -> DataFrame:
    """The checkpoint/metrics table (X5/X7): a projection of the one
    row per document, so no shuffle."""
    return result.select(
        "doc_id", F.lit(STAGE).alias("stage"), "partition_id", "status",
        "error", F.size("spans").cast("long").alias("n_spans"))


# what reading a checkpoint that no pass has written yet raises: the path
# does not exist, or it holds no data file to take a schema from
_NO_CHECKPOINT = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def _ok_doc_ids(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The documents the checkpoint records as ok, one row each."""
    return (spark.read.parquet(checkpoint_dir)
            .where(F.col("status") == "ok")
            .select("doc_id")
            .distinct())


def pending(inputs: DataFrame, checkpoint_dir: str) -> DataFrame:
    """Inputs not yet successfully checkpointed (P5: the anti-join).
    The checkpoint is read through Spark, so a path or any URI its file
    systems take (file://, hdfs://, s3a://) works; a checkpoint with no
    data yet leaves every input pending."""
    try:
        done = _ok_doc_ids(inputs.sparkSession, checkpoint_dir)
    except AnalysisException as exc:
        if exc.getCondition() not in _NO_CHECKPOINT:
            raise
        return inputs
    return inputs.join(done, "doc_id", "left_anti")


def run_resumable(
    md_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    boilerplate: frozenset[str] | None = None,
    fail_docs: frozenset[str] = frozenset(),
) -> None:
    """One resumable pass: process pending docs, append spans + lineage.
    The boilerplate, when not given, is collected over all of `md_df`,
    not only the pending docs, so a resumed output equals one pass of
    extract_spans; a pass with nothing pending collects none."""
    todo = pending(md_df, checkpoint_dir)
    if not todo.take(1):
        return
    if boilerplate is None:
        boilerplate = _collect_boilerplate(md_df)
    result = extract_with_lineage(todo, boilerplate, fail_docs).cache()
    try:
        ok_spans(result).write.mode("append").parquet(out_dir)
        lineage_of(result).write.mode("append").parquet(checkpoint_dir)
    finally:
        result.unpersist()


def read_resumed(spark: SparkSession, out_dir: str,
                 checkpoint_dir: str) -> DataFrame:
    """Final output view: spans of docs whose lineage says ok (idempotent
    under re-runs: a doc appears once per successful pass; dedup by the
    (doc_id, offset) key — a full-row distinct would key the exchange on
    long text payloads)."""
    spans = spark.read.parquet(out_dir)
    ok = _ok_doc_ids(spark, checkpoint_dir)
    w = Window.partitionBy("doc_id", "offset").orderBy(F.lit(1))
    return (
        spans.join(ok, "doc_id", "inner")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
