"""End-to-end spark-submit packaging test (north_rule: the job must run via
`spark-submit --py-files` on a multi-executor cluster). Zips the package,
submits jobs/extract_job.py against the sf0.001 fixture corpus plus one
empty-markdown document with output + checkpoint sinks, and verifies the
written spans equal golden: the empty doc's zero-span lineage sentinel
(offset=-1) is checkpointed but never written as a span."""

from __future__ import annotations

import json
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_extract_job(spark, fx_smoke, tmp_path):
    zip_path = tmp_path / "pdfpbs.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for f in (REPO / "pdf_parse_bench_spark").rglob("*.py"):
            zf.write(f, f.relative_to(REPO))
    import pyarrow as pa
    import pyarrow.parquet as pq
    corpus = pq.read_table(fx_smoke / "parsed_markdown.parquet")
    empty = pa.table({"doc_id": ["empty-doc"], "markdown": [""]},
                     schema=corpus.schema)
    in_path = tmp_path / "parsed_markdown.parquet"
    pq.write_table(pa.concat_tables([corpus, empty]), in_path)
    out_dir = tmp_path / "spans"
    ckpt_dir = tmp_path / "ckpt"
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "extract_job.py"),
            "--input", str(in_path),
            "--output", str(out_dir),
            "--checkpoint", str(ckpt_dir),
            "--runs", "1",
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["docs"] == 501

    got = spark.read.parquet(str(out_dir))
    assert got.where(got["offset"] < 0).isEmpty()
    want = spark.read.parquet(str(fx_smoke / "golden_spans.parquet")).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    lineage = spark.read.parquet(str(ckpt_dir))
    assert lineage.where(lineage.status != "ok").isEmpty()
    assert lineage.count() == 501
