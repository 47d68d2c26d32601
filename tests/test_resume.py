"""Resumable-pipeline tests (SURVEY.md §5(d)): per-partition lineage,
never-fail UDFs, anti-join resume, idempotency after a partial failure."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from pdf_parse_bench_spark.operators.extract import (
    _collect_boilerplate,
    extract_spans,
)
from pdf_parse_bench_spark.operators.resume import (
    extract_with_lineage,
    lineage_of,
    ok_spans,
    pending,
    read_resumed,
    run_resumable,
)


def _md(spark, fx):
    return spark.read.parquet(str(fx / "parsed_markdown.parquet"))


def test_injected_failures_isolated(spark, fx_smoke):
    md = _md(spark, fx_smoke).limit(50).cache()
    fail = frozenset(r.doc_id for r in md.limit(5).collect())
    res = extract_with_lineage(md, fail_docs=fail)
    lin = lineage_of(res)
    err = {r.doc_id for r in lin.where(F.col("status") == "error").collect()}
    assert err == set(fail)
    # failed docs contribute zero spans; healthy docs unaffected
    ok = lin.where(F.col("status") == "ok")
    assert ok.count() == 45
    assert ok.where(F.col("n_spans") <= 0).isEmpty()


def test_resume_after_partial_failure(spark, fx_smoke, tmp_path):
    md = _md(spark, fx_smoke).limit(60).cache()
    bp = _collect_boilerplate(_md(spark, fx_smoke))
    out1 = str(tmp_path / "spans")
    ckpt = str(tmp_path / "ckpt")
    fail = frozenset(r.doc_id for r in md.limit(7).collect())

    # pass 1: 7 docs fail, 53 succeed
    run_resumable(md, out1, ckpt, boilerplate=bp, fail_docs=fail)
    assert pending(md, ckpt).count() == 7

    # pass 2: failures resolved; only pending docs reprocessed
    run_resumable(md, out1, ckpt, boilerplate=bp, fail_docs=frozenset())
    assert pending(md, ckpt).count() == 0

    # pass 3: nothing pending → no-op (idempotent)
    run_resumable(md, out1, ckpt, boilerplate=bp, fail_docs=frozenset())

    resumed = read_resumed(spark, out1, ckpt)
    # equals a clean single-pass run
    clean = extract_spans(md, boilerplate=bp)
    assert resumed.count() == clean.count()
    assert resumed.exceptAll(clean).isEmpty()
    assert clean.exceptAll(resumed).isEmpty()


def test_resume_default_boilerplate_matches_extract_spans(spark, fx_smoke,
                                                         tmp_path):
    """With the boilerplate left to its default, run_resumable strips what
    extract_spans strips: the boilerplate of the whole input, also in a
    pass that re-runs only a few failed docs."""
    md = _md(spark, fx_smoke)
    bp = _collect_boilerplate(md)
    assert bp  # the corpus has boilerplate to strip
    fail = frozenset(r.doc_id for r in md.where(
        F.col("markdown").contains(min(bp))).limit(7).collect())
    assert fail
    out, ckpt = str(tmp_path / "spans"), str(tmp_path / "ckpt")
    run_resumable(md, out, ckpt, fail_docs=fail)
    assert pending(md, ckpt).count() == len(fail)
    run_resumable(md, out, ckpt)

    resumed = read_resumed(spark, out, ckpt)
    clean = extract_spans(md)
    assert resumed.count() == clean.count()
    assert resumed.exceptAll(clean).isEmpty()
    assert clean.exceptAll(resumed).isEmpty()


def test_zero_span_docs_drain(spark, fx_smoke, tmp_path):
    """A doc whose markdown parses to zero spans must still checkpoint
    (one ok lineage row, n_spans=0) so the pending set drains; it never
    reaches the span output."""
    md = spark.createDataFrame(
        [("zempty", ""), ("zreal", "Real content line.")],
        "doc_id string, markdown string",
    )
    out, ckpt = str(tmp_path / "spans"), str(tmp_path / "ckpt")
    run_resumable(md, out, ckpt)
    assert pending(md, ckpt).count() == 0  # empty doc checkpointed too
    lin = spark.read.parquet(ckpt)
    z = lin.where(F.col("doc_id") == "zempty").collect()
    assert len(z) == 1 and z[0].status == "ok" and z[0].n_spans == 0
    resumed = read_resumed(spark, out, ckpt)
    assert resumed.where(F.col("doc_id") == "zempty").isEmpty()
    assert resumed.where(F.col("offset") < 0).isEmpty()
    # re-run is a no-op (nothing pending)
    run_resumable(md, out, ckpt)
    assert resumed.count() == read_resumed(spark, out, ckpt).count()


def test_read_resumed_no_full_row_distinct(spark, fx_smoke, tmp_path):
    """The final-view dedup must key its exchange on (doc_id, offset),
    never on full rows with text payloads."""
    md = _md(spark, fx_smoke).limit(10)
    out, ckpt = str(tmp_path / "spans"), str(tmp_path / "ckpt")
    run_resumable(md, out, ckpt)
    plan = read_resumed(spark, out, ckpt)._jdf.queryExecution() \
        .executedPlan().toString()
    import re
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1), m.group(0)


def test_lineage_partition_metrics(spark, fx_smoke):
    md = _md(spark, fx_smoke).limit(30)
    lin = lineage_of(extract_with_lineage(md))
    rows = lin.collect()
    assert all(r.partition_id >= 0 for r in rows)
    assert all(r.stage == "extract" for r in rows)


def test_one_lineage_row_per_doc(spark, fx_smoke, tmp_path):
    """extract_with_lineage returns exactly one row per input document —
    an injected failure (error, no spans) and an empty-markdown doc (ok,
    no spans) included — lineage_of is a projection of it (no Exchange),
    and run_resumable's checkpoint and span parquet keep their schemas."""
    in_path = str(tmp_path / "in")
    _md(spark, fx_smoke).limit(25).union(spark.createDataFrame(
        [("zempty", "")], "doc_id string, markdown string")
    ).write.parquet(in_path)
    md = spark.read.parquet(in_path)  # a plain scan: no Exchange below
    fail = frozenset(r.doc_id for r in md.limit(1).collect())
    res = extract_with_lineage(md, fail_docs=fail)
    assert res.count() == 26
    assert res.select("doc_id").distinct().count() == 26

    lin = lineage_of(res)
    plan = lin._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows = {r.doc_id: r for r in lin.collect()}
    assert len(rows) == 26
    assert all(r.stage == "extract" for r in rows.values())
    (failed,) = fail
    assert rows[failed].status == "error" and rows[failed].n_spans == 0
    assert "injected failure" in rows[failed].error
    assert (rows["zempty"].status, rows["zempty"].error,
            rows["zempty"].n_spans) == ("ok", None, 0)
    # n_spans counts exactly the span rows each doc writes
    written = ok_spans(res).groupBy("doc_id").count().collect()
    assert ({r.doc_id: r["count"] for r in written}
            == {d: r.n_spans for d, r in rows.items() if r.n_spans})

    out, ckpt = str(tmp_path / "spans"), str(tmp_path / "ckpt")
    run_resumable(md, out, ckpt, fail_docs=fail)
    assert spark.read.parquet(ckpt).schema.simpleString() == (
        "struct<doc_id:string,stage:string,partition_id:int,status:string,"
        "error:string,n_spans:bigint>")
    assert spark.read.parquet(out).schema.simpleString() == (
        "struct<doc_id:string,offset:int,kind:string,text:string,"
        "media_ref:string>")


def test_resume_checkpoint_uri(spark, fx_smoke, tmp_path):
    """A checkpoint given as a file:// URI resumes like a plain path: a
    missing or empty checkpoint leaves every doc pending, an all-ok pass
    leaves none, and the next pass writes nothing. A checkpoint that
    cannot be read for another reason raises."""
    md = _md(spark, fx_smoke).limit(20).cache()
    bp = _collect_boilerplate(_md(spark, fx_smoke))
    out, ckpt = (tmp_path / "spans").as_uri(), (tmp_path / "ckpt").as_uri()
    (tmp_path / "empty").mkdir()
    assert pending(md, ckpt).count() == 20
    assert pending(md, (tmp_path / "empty").as_uri()).count() == 20

    run_resumable(md, out, ckpt, boilerplate=bp)
    assert pending(md, ckpt).count() == 0
    run_resumable(md, out, ckpt, boilerplate=bp)
    assert spark.read.parquet(ckpt).count() == 20

    with pytest.raises(AnalysisException):
        pending(md, out)  # span rows: no status column
