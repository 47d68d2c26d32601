"""Structured Streaming surface.

The reference's "streaming" is incremental batch with skip-existing resume
(SURVEY.md §1.2); here we expose the real thing: a file-source stream of
markdown documents → the same extraction kernel → sink, plus a watermarked
windowed aggregation over the events table (late-data handling the
reference lacks but a 100 TB ingest pipeline needs).

Both run with Trigger.AvailableNow in tests (drain-and-stop), and the exact
same code runs continuously on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parse_bench_spark.functions import round_half_up
from pdf_parse_bench_spark.operators.extract import extract_spans
from pdf_parse_bench_spark.schemas import PARSED_MARKDOWN_SCHEMA

DEDUP_WATERMARK = "2 hours"  # stream_dedup's event-time dedup horizon
SESSION_GAP_MINUTES = 30     # sessionize: a longer gap starts a new session


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    boilerplate: frozenset[str] = frozenset(),
    table_name: str = "streamed_spans",
):
    """readStream(parquet dir) → extraction → in-memory sink (tests) —
    swap format('memory') for Iceberg append in production. Returns the
    StreamingQuery; caller awaits termination."""
    stream = (
        spark.readStream.schema(PARSED_MARKDOWN_SCHEMA)
        .parquet(input_dir)
    )
    spans = extract_spans(stream, boilerplate=boilerplate)
    return (
        spans.writeStream.format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling window counts per event_type (batch and
    streaming share this plan; on a stream add .withWatermark first)."""
    src = events
    if src.isStreaming:
        # watermarks need TIMESTAMP (LTZ); parquet reads NTZ — epoch-aligned
        # hourly windows are identical either way
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
        src = src.withWatermark("ts", "2 hours")
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stateful_user_totals(stream: DataFrame):
    """Custom stateful streaming operator via applyInPandasWithState: per
    user, running (n_events, total_value) carried in GroupState across
    micro-batches — the arbitrary-state primitive the reference's
    incremental-batch resume approximates with files (SURVEY.md §1.2).

    Emits one row per (user, micro-batch touching that user) with the
    cumulative totals; the final emission per user equals the batch
    groupBy aggregate (asserted in tests across multiple micro-batches).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n],
             "total_value": [round(total, 6)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup for a 100 TB ingest path: watermark-bounded
    dedup on the content hash — state holds one md5 per distinct doc within
    the watermark horizon and is EVICTED after it, so state size is bounded
    by the dedup window, not the corpus. This must be
    dropDuplicatesWithinWatermark: plain dropDuplicates(['text_hash'])
    never evicts state unless the event-time column is among the dedup
    keys, so its state grows with every distinct doc forever and OOMs on a
    real firehose. The batch twin is dedup_exact (operators/dedup.py)."""
    src = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        src.withColumn("text_hash", F.md5("text"))
        .withWatermark("ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization per user (batch formulation: lag + cumulative
    sum over an event-time window — the applyInPandasWithState analog that
    the DuckDB oracle can check)."""
    from pyspark.sql import Window

    # deterministic tie-break on event_id; explicit ROWS frame (Spark's
    # default for an ordered window is RANGE, which merges timestamp ties)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # microsecond precision: fractional seconds must count toward the gap
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    marked = events.withColumn("_prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(F.col("_prev_ts").isNull()
               | (gap > SESSION_GAP_MINUTES * 60 * 1000000), 1)
        .otherwise(0),
    ).drop("_prev_ts")
    sessions = marked.withColumn(
        "session_no", F.sum("new_session").over(wsum)
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            round_half_up(F.sum("value")).alias("session_value"),
        )
    )
