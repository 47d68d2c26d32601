"""The benchmark workloads.

Each workload exposes:
  - ``job()``: one closed-loop job, as a user would run it (tracing off);
  - ``outputs()``: the same job once, collected: its span rows and the
    documents it marked failed, for the gate;
  - ``traced(tracer)``: the same pipeline with every layer boundary
    materialized on its own, returning the layer counts it measured;
  - ``kernel_seconds()``: the workload's kernel called serially on every
    input document, with no engine around it.

Read-only jobs sink into ``write.format("noop")`` so every output column is
materialized without a write.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parse_bench_spark import sources
from pdf_parse_bench_spark.operators import extract, resume, skew


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_mb(path: str) -> float:
    return sum(f.stat().st_size for f in Path(path).rglob("*")
               if f.is_file()) / 1e6


def partition_balance(df: DataFrame) -> tuple[int, float]:
    """(partitions, max/median rows over non-empty partitions)."""
    counts = [r["n"] for r in df.groupBy(F.spark_partition_id())
              .agg(F.count("*").alias("n")).collect()]
    return df.rdd.getNumPartitions(), max(counts) / statistics.median(counts)


class Workload:
    name = ""
    fmt = ""     # input format, see perfbench.inputs
    kernel = ""  # per-layer name of the workload's kernel

    def __init__(self, spark: SparkSession, input_dir: Path, work_dir: Path,
                 seed: int, doc_ids: list[str]):
        self.spark = spark
        self.input_path = str(input_dir / "input.parquet")
        self.work_dir = work_dir
        self.seed = seed
        self.doc_ids = doc_ids

    def read(self) -> DataFrame:
        return sources.read_fixture(self.spark, Path(self.input_path).parent,
                                    "input")

    def prepare(self) -> None:
        """Untimed set-up before each job."""
        self.cleanup()

    def cleanup(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)

    def traced_outputs(self) -> tuple[pd.DataFrame, frozenset[str]] | None:
        """Outputs written by the last traced iteration, if it wrote any."""
        return None

    def traced_ok(self, counts: dict) -> bool:
        """Whether one traced iteration's counts are exact."""
        return True

    def _rebalanced_layers(self, tr, df: DataFrame, size_col: str,
                           operator) -> tuple[DataFrame, dict]:
        """Skew layers, then `operator` on the cached rebalanced rows.
        Returns the cached rows (caller unpersists) and the counts."""
        with tr.span("skew.threshold"):  # the eager prefix-quantile action
            rb = skew.rebalance_by_size(df, F.length(size_col))
        rb = rb.cache()
        with tr.span("skew.rebalance"):
            noop(rb)
        with tr.span("extract.operator"):
            noop(operator(rb))
        parts, imbalance = partition_balance(rb)
        return rb, {"skew.partitions": parts,
                    "skew.max_over_median_rows": imbalance}


class MdExtract(Workload):
    """markdown -> compute_boilerplate -> rebalance_by_size ->
    extract_spans. The traced run adds the resume layers on the same
    input: pass 1 with a seeded ~5% failure set, the pending anti-join,
    pass 2, and the resumed read."""
    name, fmt, kernel = "md_extract", "markdown", "kernels.markdown"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from perfbench.inputs import fail_docs

        self.fail = fail_docs(self.seed, self.doc_ids)
        self.boilerplate = frozenset()
        self.spans_dir = str(self.work_dir / "spans")
        self.lineage_dir = str(self.work_dir / "lineage")

    def job(self) -> None:
        noop(extract.extract_spans(self.read()))

    def outputs(self):
        return extract.extract_spans(self.read()).toPandas(), frozenset()

    def traced(self, tr):
        md = self.read()
        with tr.span("sources.scan"):
            noop(md)
        with tr.span("extract.boilerplate"):
            bp = frozenset(r.line for r in
                           extract.compute_boilerplate(md).collect())
        self.boilerplate = bp
        rb, counts = self._rebalanced_layers(
            tr, md, "markdown",
            lambda df: extract.extract_spans(df, boilerplate=bp,
                                             rebalance=False))
        try:
            spans = extract.extract_spans(rb, boilerplate=bp,
                                          rebalance=False).cache()
            noop(spans)
            with tr.span("sources.write"):
                sources.write_spans(spans, str(self.work_dir / "written"))
            spans.unpersist()
        finally:
            rb.unpersist()
        counts.update(self._resume_layers(tr, md, bp))
        counts["extract.boilerplate_lines"] = len(bp)
        return counts

    def _resume_layers(self, tr, md: DataFrame, bp) -> dict:
        out, ckpt = self.spans_dir, self.lineage_dir
        with tr.span("resume.pass1"):
            resume.run_resumable(md, out, ckpt, bp, fail_docs=self.fail)
        lineage = self.spark.read.parquet(ckpt)
        rows1 = lineage.count()
        failed1 = lineage.where(F.col("status") == "error").count()
        with tr.span("resume.pending"):
            pending_docs = resume.pending(md, ckpt).count()
        with tr.span("resume.pass2"):
            resume.run_resumable(md, out, ckpt, bp)
        redone = self.spark.read.parquet(ckpt).count() - rows1
        with tr.span("resume.read"):
            noop(resume.read_resumed(self.spark, out, ckpt))
        return {"resume.pending_docs": pending_docs,
                "resume.redo_ratio": redone / failed1,
                "sources.written_mb_per_input_mb":
                    (dir_mb(out) + dir_mb(ckpt))
                    / (os.path.getsize(self.input_path) / 1e6)}

    def traced_ok(self, counts):
        return (counts["resume.pending_docs"] == len(self.fail)
                and counts["resume.redo_ratio"] == 1.0)

    def traced_outputs(self):
        """The resumed view and the documents lineage never marked ok."""
        spans = resume.read_resumed(self.spark, self.spans_dir,
                                    self.lineage_dir).toPandas()
        ok = {r.doc_id for r in self.spark.read.parquet(self.lineage_dir)
              .where(F.col("status") == "ok").select("doc_id").collect()}
        return spans, frozenset(d for d in self.doc_ids if d not in ok)

    def kernel_seconds(self):
        from pdf_parse_bench_spark.kernels.markdown import parse_markdown

        mds = pd.read_parquet(self.input_path)["markdown"].tolist()
        t0 = time.perf_counter()
        for md in mds:
            parse_markdown(md, self.boilerplate)
        return time.perf_counter() - t0


class PdfExtract(Workload):
    """raw PDF bytes -> pdf_spans (rebalance_by_size + mapInPandas over
    kernels.pdftext)."""
    name, fmt, kernel = "pdf_extract", "pdf", "kernels.pdftext"

    def job(self) -> None:
        noop(extract.pdf_spans(self.read()))

    def outputs(self):
        return extract.pdf_spans(self.read()).toPandas(), frozenset()

    def traced(self, tr):
        pdfs = self.read()
        with tr.span("sources.scan"):
            noop(pdfs)
        rb, counts = self._rebalanced_layers(
            tr, pdfs, "pdf_bytes",
            lambda df: extract.pdf_spans(df, rebalance=False))
        rb.unpersist()
        return counts

    def kernel_seconds(self):
        from pdf_parse_bench_spark.kernels.pdftext import extract_pdf_spans

        blobs = pd.read_parquet(self.input_path)["pdf_bytes"].tolist()
        t0 = time.perf_counter()
        for b in blobs:
            extract_pdf_spans(bytes(b))
        return time.perf_counter() - t0


class LayoutExtract(Workload):
    """layout blocks -> extract_spans_from_layout (groupBy/collect_list
    shuffle feeding XY-cut reading order)."""
    name, fmt, kernel = "layout_extract", "layout", "kernels.layout"

    def job(self) -> None:
        noop(extract.extract_spans_from_layout(self.read()))

    def outputs(self):
        return (extract.extract_spans_from_layout(self.read()).toPandas(),
                frozenset())

    def traced(self, tr):
        blocks = self.read()
        with tr.span("sources.scan"):
            noop(blocks)
        with tr.span("extract.operator"):
            noop(extract.extract_spans_from_layout(blocks))
        return {}

    def kernel_seconds(self):
        from pdf_parse_bench_spark.kernels.layout import blocks_to_spans

        docs: dict[str, list[dict]] = {}
        for r in pd.read_parquet(self.input_path).itertuples(index=False):
            docs.setdefault(r.doc_id, []).append(
                {"page_no": r.page_no, "bbox": list(r.bbox),
                 "category": r.category, "text": r.text})
        for blocks in docs.values():  # the operator's array_sort order
            blocks.sort(key=lambda b: (b["page_no"], b["bbox"],
                                       b["category"], b["text"]))
        t0 = time.perf_counter()
        for blocks in docs.values():
            blocks_to_spans(blocks)
        return time.perf_counter() - t0


WORKLOADS = {w.name: w for w in (MdExtract, PdfExtract, LayoutExtract)}
