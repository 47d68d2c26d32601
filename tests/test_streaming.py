"""Structured Streaming tests: the file-source stream must produce exactly
the batch pipeline's spans (availableNow drain), and the watermarked window
agg must run in streaming mode."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from pdf_parse_bench_spark.operators.extract import _collect_boilerplate, extract_spans
from pdf_parse_bench_spark.streaming import stream_extract, windowed_event_counts


def test_stream_extract_matches_batch(spark, fx_smoke, tmp_path):
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    shutil.copy(fx_smoke / "parsed_markdown.parquet", src_dir / "part-000.parquet")
    md = spark.read.parquet(str(src_dir))
    bp = _collect_boilerplate(md)

    q = stream_extract(
        spark, str(src_dir), str(tmp_path / "ckpt"),
        boilerplate=bp, table_name="t_stream_spans",
    )
    q.awaitTermination(120)
    streamed = spark.table("t_stream_spans")
    batch = extract_spans(md, boilerplate=bp)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).isEmpty()


def test_windowed_counts_streaming_mode(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "ev"
    events.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory").queryName("t_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_win")
    want = windowed_event_counts(events)
    assert got.count() == want.count()
    assert got.agg(F.sum("n")).first()[0] == events.count()


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """Watermarked dropDuplicates: a duplicate text arriving in a LATER
    micro-batch (within the watermark horizon) must be dropped — state
    carries the content hash across batches."""
    from pdf_parse_bench_spark.streaming import stream_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    rows1 = [(1, "2026-01-01 10:00:00", "alpha beta"),
             (2, "2026-01-01 10:01:00", "gamma delta"),
             (3, "2026-01-01 10:02:00", "alpha beta")]      # dup in batch 1
    rows2 = [(4, "2026-01-01 10:30:00", "alpha beta"),      # dup across batches
             (5, "2026-01-01 10:31:00", "epsilon zeta")]
    schema = "doc_id long, ts string, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "b1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*"))
    q = (
        stream_dedup(stream).writeStream.format("memory")
        .queryName("t_dedup").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_dedup")
    texts = sorted(r.text for r in got.collect())
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]


def test_stateful_user_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state must carry across micro-batches — with
    maxFilesPerTrigger=1 the second batch's emission per user equals the
    whole-corpus batch aggregate."""
    from pyspark.sql import functions as F
    from pdf_parse_bench_spark.streaming import stateful_user_totals

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    half1 = events.where(F.col("event_id") % 2 == 0)
    half2 = events.where(F.col("event_id") % 2 == 1)
    src = tmp_path / "ev_state"
    src.mkdir()
    half1.coalesce(1).write.parquet(str(src / "f1.parquet"))
    half2.coalesce(1).write.parquet(str(src / "f2.parquet"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory").queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("t_state")
    # the LAST emission per user must equal the batch totals
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (got.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") == 1).drop("rn"))
    want = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    assert final.count() == want.count()
    assert final.exceptAll(want).isEmpty()
    # state really carried: users appear in MORE than one emission
    assert got.count() > want.count()


def test_quality_operators_run_unchanged_on_streams(spark, tmp_path):
    """The stateless pipeline operators (repetition_stats, quality
    features via pii_scrub's projection shape, chunk_documents,
    stratified_sample) are pure projections — the SAME functions must
    run on a readStream DataFrame with identical results to batch.
    This is the composition contract: a streaming ingest can quality-
    gate, chunk and sample with zero operator changes."""
    from pdf_parse_bench_spark.operators.textstats import (
        chunk_documents, repetition_stats, stratified_sample)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "docs_in"
    docs.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(docs.schema).parquet(str(src))
    for i, (name, fn) in enumerate([
            ("rep", repetition_stats),
            ("chk", chunk_documents),
            ("smp", stratified_sample)]):
        q = (fn(stream).writeStream.format("memory")
             .queryName(f"t_q_{name}")
             .option("checkpointLocation", str(tmp_path / f"ck_{i}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.table(f"t_q_{name}")
        want = fn(docs)
        assert got.count() == want.count(), name
        assert got.exceptAll(want).isEmpty(), name
