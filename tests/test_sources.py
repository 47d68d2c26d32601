"""Source helpers (pdf_parse_bench_spark/sources)."""

from __future__ import annotations

from pdf_parse_bench_spark import sources


def test_read_fixture_footer_schema_runs_no_job(spark, fx_smoke):
    """read_fixture's footer schema equals Spark's inferred one, nullability
    included, and building the frame runs no Spark job."""
    tracker = spark.sparkContext.statusTracker()
    paths = sorted(fx_smoke.glob("*.parquet"))
    assert paths
    for path in paths:
        before = set(tracker.getJobIdsForGroup(None))
        df = sources.read_fixture(spark, fx_smoke, path.stem)
        assert set(tracker.getJobIdsForGroup(None)) == before, path.name
        assert df.schema == spark.read.parquet(str(path)).schema, path.name


def test_read_fixture_keeps_spark_types_the_footer_cannot_give(spark,
                                                                tmp_path):
    """An INT96 timestamp (how Spark writes TIMESTAMP by default) and an
    unsigned int read back with the types Spark's own schema read gives."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 2, 3, 4, 5))], "id long, ts timestamp"
    ).write.parquet(str(tmp_path / "int96.parquet"))
    pq.write_table(pa.table({"n": pa.array([7], pa.uint32())}),
                   tmp_path / "uint.parquet")
    for name in ("int96", "uint"):
        df = sources.read_fixture(spark, tmp_path, name)
        expected = spark.read.parquet(str(tmp_path / f"{name}.parquet"))
        assert df.schema == expected.schema, name
        assert df.collect() == expected.collect(), name


def test_driver_queries_read_without_schema_jobs(spark, fx_correct):
    """__spark_entry__'s readers take the footer schema: building
    revenue_by_region runs no job, and building extract_spans runs only its
    boilerplate pre-pass, the same jobs as on an already-read frame."""
    import __spark_entry__ as entry
    from conftest import SF_CORRECT as sf
    from pdf_parse_bench_spark.operators.extract import extract_spans

    tracker = spark.sparkContext.statusTracker()

    def jobs(build):
        before = set(tracker.getJobIdsForGroup(None))
        build()
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    q = entry.queries()
    assert jobs(lambda: q["revenue_by_region"](spark, sf)) == 0
    assert jobs(lambda: entry._f(spark, sf, "parsed_markdown")) == 0
    md = entry._f(spark, sf, "parsed_markdown")
    assert jobs(lambda: q["extract_spans"](spark, sf)) == jobs(
        lambda: extract_spans(md))
