"""End-to-end golden tests (SURVEY.md §5(b)): the Spark pipelines must
reproduce the golden span tables under exact span-sequence equality
(kind, text, media_ref, order) per doc_id."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parse_bench_spark import score_spans
from pdf_parse_bench_spark.operators.backends import get_backend, list_backends
from pdf_parse_bench_spark.operators.extract import (
    align_extractions,
    assemble_markdown,
    compute_boilerplate,
    extract_spans,
    extract_spans_from_layout,
    parse_pdfs,
)

KEYS = ["doc_id", "offset", "kind", "text", "media_ref"]


def _read(spark, fx, name):
    return spark.read.parquet(str(fx / f"{name}.parquet"))


def _assert_equal(got, want):
    g = got.select(*KEYS)
    w = want.select(*KEYS)
    assert g.count() == w.count()
    assert g.exceptAll(w).isEmpty() and w.exceptAll(g).isEmpty()


def test_extract_spans_exact(spark, fx_smoke):
    got = extract_spans(_read(spark, fx_smoke, "parsed_markdown"))
    _assert_equal(got, _read(spark, fx_smoke, "golden_spans"))


def test_layout_spans_exact(spark, fx_smoke):
    got = extract_spans_from_layout(_read(spark, fx_smoke, "layout_blocks"))
    _assert_equal(got, _read(spark, fx_smoke, "golden_layout_spans"))


def test_pdf_parse_exact(spark, fx_smoke):
    got = parse_pdfs(_read(spark, fx_smoke, "pdf_docs"))
    want = _read(spark, fx_smoke, "golden_pdf_text")
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_align_extractions_exact(spark, fx_smoke):
    got = align_extractions(
        _read(spark, fx_smoke, "parsed_markdown"),
        _read(spark, fx_smoke, "golden_spans").select(*KEYS),
    )
    _assert_equal(got, _read(spark, fx_smoke, "golden_spans"))


def test_match_rate_is_one(spark, fx_smoke):
    rates = score_spans(
        extract_spans(_read(spark, fx_smoke, "parsed_markdown")),
        _read(spark, fx_smoke, "golden_spans"),
    )
    assert rates.where(F.col("match_rate") < 1.0).isEmpty()


def test_boilerplate_detected(spark, fx_smoke):
    lines = {r.line for r in
             compute_boilerplate(_read(spark, fx_smoke, "parsed_markdown")).collect()}
    assert any("preprint series" in l for l in lines)
    assert any("all rights reserved" in l for l in lines)


def test_assemble_then_extract_roundtrip(spark, fx_smoke):
    """page-assembly inverse property: assemble golden spans to markdown,
    re-extract, get the same spans back (no boilerplate in assembled md)."""
    golden = _read(spark, fx_smoke, "golden_spans")
    md = assemble_markdown(golden)
    got = extract_spans(md, boilerplate=frozenset())
    _assert_equal(got, golden)


def test_html_spans_exact(spark, fx_smoke):
    from pdf_parse_bench_spark.operators.extract import extract_spans_from_html
    got = extract_spans_from_html(_read(spark, fx_smoke, "html_documents"))
    _assert_equal(got, _read(spark, fx_smoke, "golden_spans"))


def test_backend_registry(spark, fx_smoke):
    from pdf_parse_bench_spark.operators.backends import get_backend, list_backends
    assert set(list_backends()) >= {"markdown", "html", "layout", "pdf-text"}
    got = get_backend("html")(_read(spark, fx_smoke, "html_documents"))
    _assert_equal(got, _read(spark, fx_smoke, "golden_spans"))
    import pytest
    with pytest.raises(KeyError):
        get_backend("nope")


def test_align_noisy_fuzzy_path_exact(spark, fx_smoke):
    """J2 fuzzy alignment e2e: noisy markdown within the 15% tolerance —
    the aligner must return the noisy variants in golden order."""
    got = align_extractions(
        _read(spark, fx_smoke, "noisy_markdown"),
        _read(spark, fx_smoke, "golden_spans").select(*KEYS),
        boilerplate=frozenset(),
    )
    _assert_equal(got, _read(spark, fx_smoke, "golden_noisy_spans"))


def test_judge_scores_deterministic(spark, fx_smoke):
    """E2 deterministic judge: clean spans score 10, noisy formulas <= 10,
    nothing below 0."""
    from pyspark.sql import functions as F
    from pdf_parse_bench_spark import score_spans_judged
    scores = score_spans_judged(
        _read(spark, fx_smoke, "golden_noisy_spans"),
        _read(spark, fx_smoke, "golden_spans"),
    )
    assert scores.where((F.col("score") < 0) | (F.col("score") > 10)).isEmpty()
    assert scores.where(F.col("score") < 10).count() > 0  # noise detected
    # non-formula spans are untouched by the noise fixture
    assert scores.where(
        (F.col("kind") == "table") & (F.col("score") != 10)
    ).isEmpty()


def test_binaryfile_pdf_source(spark, fx_smoke, tmp_path):
    """S1 raw-PDF variant: binaryFile source over a directory of .pdf files."""
    import pyarrow.parquet as pq
    from pdf_parse_bench_spark.sources import read_pdf_corpus
    pdfs = pq.read_table(fx_smoke / "pdf_docs.parquet").to_pandas().head(20)
    d = tmp_path / "pdfs"
    d.mkdir()
    for r in pdfs.itertuples(index=False):
        (d / f"{r.doc_id}.pdf").write_bytes(bytes(r.pdf_bytes))
    corpus = read_pdf_corpus(spark, str(d))
    got = parse_pdfs(corpus)
    gold = _read(spark, fx_smoke, "golden_pdf_text")
    want = gold.where(gold.doc_id.isin(list(pdfs.doc_id)))
    assert got.count() == 20
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_cli_extract_and_score(fx_smoke, tmp_path):
    """Reference CLI analog: extract via a named backend, then score."""
    import subprocess, sys
    out = tmp_path / "spans"
    r = subprocess.run(
        [sys.executable, "-m", "pdf_parse_bench_spark", "extract",
         "--backend", "html",
         "--input", str(fx_smoke / "html_documents.parquet"),
         "--output", str(out), "--cores", "4"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "wrote" in r.stdout
    r2 = subprocess.run(
        [sys.executable, "-m", "pdf_parse_bench_spark", "score",
         "--extracted", str(out),
         "--golden", str(fx_smoke / "golden_spans.parquet"), "--cores", "4"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r2.returncode == 0, r2.stderr[-1500:]
    assert "(1.0000)" in r2.stdout and "judged mean: 10.000" in r2.stdout


def test_benchmark_facade(spark, fx_smoke):
    """Reference library entry point 2: user-provided markdown mid-pipeline."""
    from pdf_parse_bench_spark import Benchmark
    from pyspark.sql import functions as F
    bench = Benchmark(spark, str(fx_smoke / "golden_spans.parquet"))
    spans = bench.extract(str(fx_smoke / "parsed_markdown.parquet"),
                          backend="markdown")
    res = bench.evaluate(spans)
    assert res["exact"].where(F.col("match_rate") < 1.0).isEmpty()
    summary = bench.save_benchmark_summary(res["judged"])
    rows = {r.kind: r.avg_score for r in summary.collect()}
    assert all(v == 10.0 for v in rows.values())


# smoke input table and options per registered backend; kernel_op leaves
# a repartitioned input alone, so every backend's kernel sees the 2 vs 17
# layouts
_BACKEND_INPUTS = {
    "markdown": ("parsed_markdown", {"boilerplate": frozenset()}),
    "html": ("html_documents", {}),
    "tei": ("tei_documents", {}),
    "layout": ("layout_blocks", {}),
    "pdf-text": ("pdf_docs", {}),
    "pdf-spans": ("pdf_docs", {}),
}


@pytest.mark.parametrize("backend", list_backends())
def test_extraction_partition_invariant(spark, fx_smoke, backend):
    """Span output must be EXACTLY the same set at any partitioning —
    no kernel may depend on batch boundaries or partition order (the
    property that makes local results transfer to a 1000-executor run)."""
    table, opts = _BACKEND_INPUTS[backend]
    df = _read(spark, fx_smoke, table)
    a = get_backend(backend)(df.repartition(2), **opts)
    b = get_backend(backend)(df.repartition(17), **opts)
    assert a.count() == b.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
