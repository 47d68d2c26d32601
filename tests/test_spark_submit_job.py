"""End-to-end job tests over the sf0.001 fixture corpus plus one
empty-markdown document, with output + checkpoint sinks.

- spark-submit packaging (north_rule: the job must run via
  `spark-submit --py-files` on a multi-executor cluster): zips the package
  and submits jobs/extract_job.py;
- the CLI: `python -m pdf_parse_bench_spark extract --checkpoint`.

Both verify the written spans equal golden: the empty doc checkpoints
as one ok lineage row with n_spans=0 and writes no span row. The CLI
`score` and the job's argument checks run in subprocesses too."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

SPARK_SUBMIT = shutil.which("spark-submit")


def _corpus_with_empty_doc(fx_smoke, tmp_path) -> Path:
    import pyarrow as pa
    import pyarrow.parquet as pq
    corpus = pq.read_table(fx_smoke / "parsed_markdown.parquet")
    empty = pa.table({"doc_id": ["empty-doc"], "markdown": [""]},
                     schema=corpus.schema)
    in_path = tmp_path / "parsed_markdown.parquet"
    pq.write_table(pa.concat_tables([corpus, empty]), in_path)
    return in_path


def _assert_golden_spans(spark, fx_smoke, out_dir):
    got = spark.read.parquet(str(out_dir))
    assert got.where(got["offset"] < 0).isEmpty()
    want = spark.read.parquet(str(fx_smoke / "golden_spans.parquet")).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def _run_python(*args):
    """`python ARGS` from the repo root with the package importable."""
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(
               filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))}
    return subprocess.run([sys.executable, *args], capture_output=True,
                          text=True, timeout=420, cwd=REPO, env=env)


def _run_module(*args):
    return _run_python("-m", "pdf_parse_bench_spark", *args)


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_extract_job(spark, fx_smoke, tmp_path):
    zip_path = tmp_path / "pdfpbs.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for f in (REPO / "pdf_parse_bench_spark").rglob("*.py"):
            zf.write(f, f.relative_to(REPO))
    in_path = _corpus_with_empty_doc(fx_smoke, tmp_path)
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
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["docs"] == 501

    _assert_golden_spans(spark, fx_smoke, out_dir)
    lineage = spark.read.parquet(str(ckpt_dir))
    assert lineage.where(lineage.status != "ok").isEmpty()
    assert lineage.count() == 501


def test_cli_extract_checkpoint_writes_lineage(spark, fx_smoke, tmp_path):
    """`extract --checkpoint` is one resumable markdown pass: real lineage
    (partition_id, error, the zero-span doc checkpointed ok), spans equal
    golden; other backends refuse --checkpoint instead of faking lineage."""
    in_path = _corpus_with_empty_doc(fx_smoke, tmp_path)
    out_dir = tmp_path / "spans"
    ckpt_dir = tmp_path / "ckpt"

    def cli(*args):
        return _run_module("extract", "--input", str(in_path),
                           "--output", str(out_dir),
                           "--checkpoint", str(ckpt_dir), *args)

    r = cli("--backend", "markdown")
    assert r.returncode == 0, r.stderr[-2000:]
    _assert_golden_spans(spark, fx_smoke, out_dir)
    lineage = spark.read.parquet(str(ckpt_dir))
    assert {"partition_id", "error"} <= set(lineage.columns)
    assert lineage.where(lineage.status == "ok").count() == 501
    assert lineage.count() == 501

    r = cli("--backend", "html")
    assert r.returncode != 0
    assert "markdown-only" in r.stderr


def test_cli_rejects_unknown_backend(monkeypatch, capsys, tmp_path):
    """An unknown --backend is argparse's invalid choice (exit 2), with or
    without --checkpoint, before get_spark starts a JVM."""
    from pdf_parse_bench_spark import __main__ as cli, session

    def no_spark(*args, **kwargs):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_spark)
    for extra in ([], ["--checkpoint", str(tmp_path / "ckpt")]):
        with pytest.raises(SystemExit) as exc:
            cli.main(["extract", "--backend", "nope",
                      "--input", str(tmp_path / "in.parquet"),
                      "--output", str(tmp_path / "out"), *extra])
        assert exc.value.code == 2
        err = capsys.readouterr().err
        assert "invalid choice" in err and "'nope'" in err, err


def test_extract_job_rejects_checkpoint_without_output(fx_smoke, tmp_path):
    """--checkpoint without --output has nowhere to write the spans: the
    job refuses it before Spark starts."""
    ckpt_dir = tmp_path / "ckpt"
    r = _run_python(str(REPO / "jobs" / "extract_job.py"),
                    "--input", str(fx_smoke / "parsed_markdown.parquet"),
                    "--checkpoint", str(ckpt_dir))
    assert r.returncode != 0
    assert "the following arguments are required: --output" in r.stderr
    assert not ckpt_dir.exists()


def test_extract_job_empty_input_with_checkpoint(tmp_path):
    """A resumable pass over an empty input writes no span file; the job
    still ends with its JSON line instead of failing to read --output."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    in_path = tmp_path / "empty.parquet"
    pq.write_table(pa.table({"doc_id": pa.array([], pa.string()),
                             "markdown": pa.array([], pa.string())}), in_path)
    r = _run_python(str(REPO / "jobs" / "extract_job.py"),
                    "--input", str(in_path), "--output", str(tmp_path / "spans"),
                    "--checkpoint", str(tmp_path / "ckpt"), "--cores", "1")
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert (stats["docs"], stats["output_rows"]) == (0, 0)


def test_extract_job_resubmit_resumes(fx_smoke, tmp_path):
    """With --output and --checkpoint the job is one resumable pass: a
    re-submitted job finds every document checkpointed ok and rewrites
    neither the span files nor the lineage."""
    import pyarrow.parquet as pq
    in_path = _corpus_with_empty_doc(fx_smoke, tmp_path)
    out_dir = tmp_path / "spans"
    ckpt_dir = tmp_path / "ckpt"

    def submit():
        r = _run_python(str(REPO / "jobs" / "extract_job.py"),
                        "--input", str(in_path), "--output", str(out_dir),
                        "--checkpoint", str(ckpt_dir))
        assert r.returncode == 0, r.stderr[-2000:]
        return [sorted(p.name for p in d.glob("*.parquet"))
                for d in (out_dir, ckpt_dir)]

    first = submit()
    assert all(first)
    assert submit() == first
    assert pq.read_table(ckpt_dir).num_rows == 501


def test_cli_score_without_overlap(tmp_path):
    """An extraction sharing no document with golden scores 0 exact
    matches and prints 'n/a' for the judged mean (nothing was judged)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    golden = tmp_path / "golden.parquet"
    extracted = tmp_path / "extracted.parquet"
    schema = pa.schema([("doc_id", pa.string()), ("offset", pa.int32()),
                        ("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string())])
    for path, doc in ((golden, "gold-doc"), (extracted, "other-doc")):
        pq.write_table(pa.table({"doc_id": [doc], "offset": [0],
                                 "kind": ["text"], "text": ["Hello."],
                                 "media_ref": [""]}, schema=schema), path)
    r = _run_module("score", "--extracted", str(extracted),
                    "--golden", str(golden), "--cores", "1")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "exact match: 0/1" in r.stdout
    assert "judged mean: n/a" in r.stdout
