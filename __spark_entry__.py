"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (plus the training-data-pipeline additions)
is exposed as a queries() entry with a DuckDB oracle. The extraction paths
are checked against the *golden span tables* (ground truth by construction —
the reference's own oracle model, synth_pdf/content.py:104-115): the oracle
SQL simply reads the golden parquet, so the kernels are held to exact
span-sequence equality (kind, text, media_ref, order).

Fixture tables are generated deterministically from the driver's parquet
tables by pdf_parse_bench_spark.fixtures (seeded; committed for sf0.001 and
sf0.01).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from pdf_parse_bench_spark import fixtures as fx  # noqa: E402
from pdf_parse_bench_spark import score_spans, score_spans_judged  # noqa: E402
from pdf_parse_bench_spark.functions import (  # noqa: E402
    epoch_micros,
    epoch_seconds,
    normalize_display_expr,
    normalize_for_matching_expr,
    parse_score_expr,
    preprocess_unicode_expr,
    round_half_up,
)
from pdf_parse_bench_spark.operators import aggregates as agg  # noqa: E402
from pdf_parse_bench_spark.operators import dedup as dd  # noqa: E402
from pdf_parse_bench_spark.operators import similarity as sim  # noqa: E402
from pdf_parse_bench_spark.operators import textstats as ts  # noqa: E402
from pdf_parse_bench_spark.operators.tables import table_cells  # noqa: E402
from pdf_parse_bench_spark.operators.extract import (  # noqa: E402
    align_extractions,
    assemble_markdown,
    compute_boilerplate,
    extract_spans,
    extract_spans_from_html,
    extract_spans_from_layout,
    extract_spans_from_tei,
    parse_pdfs,
    rasterize_pages,
    substitute_table_refs,
)
from pdf_parse_bench_spark.operators.extract import (  # noqa: E402
    pdf_encrypt_audit as pdf_encrypt_audit_op,
    pdf_image_stats_op,
    pdf_spans as pdf_spans_op,
)
from pdf_parse_bench_spark.kernels import textnorm as tn  # noqa: E402
from pdf_parse_bench_spark.operators import media as mediaops  # noqa: E402
from pdf_parse_bench_spark.operators.media import media_features  # noqa: E402
from pdf_parse_bench_spark.operators.resume import (  # noqa: E402
    extract_with_lineage,
    lineage_of,
)
from pdf_parse_bench_spark.sources import read_fixture  # noqa: E402
from pdf_parse_bench_spark.streaming import sessionize, windowed_event_counts  # noqa: E402

# The driver's oracle runs at sf0.01; SQL literals must point at a fixed path.
ORACLE_FX = str(REPO / "fixtures" / "sf0.01")


def _f(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_fixture(spark, fx.ensure_fixtures(sf_dir), name)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_fixture(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# entry — flagship smoke query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full unguided extraction (markdown → ordered spans) on
    sf0.001; the driver checks rows>0 and a stable schema."""
    sf_dir = "/root/testdata/sf0.001"
    md = _f(spark, sf_dir, "parsed_markdown")
    return extract_spans(md)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- extraction pipeline (golden-oracle checked) ----
    q["extract_spans"] = lambda s, d: extract_spans(_f(s, d, "parsed_markdown"))
    q["align_extractions"] = lambda s, d: align_extractions(
        _f(s, d, "parsed_markdown"),
        _f(s, d, "golden_spans").select("doc_id", "offset", "kind", "text", "media_ref"),
    )
    q["layout_spans"] = lambda s, d: extract_spans_from_layout(
        _f(s, d, "layout_blocks")
    )
    q["html_spans"] = lambda s, d: extract_spans_from_html(
        _f(s, d, "html_documents")
    )
    q["tei_spans"] = lambda s, d: extract_spans_from_tei(
        _f(s, d, "tei_documents")
    )
    q["pdf_parse"] = lambda s, d: parse_pdfs(_f(s, d, "pdf_docs"))
    q["pdf_spans"] = lambda s, d: pdf_spans_op(_f(s, d, "pdf_docs"))
    q["pdf_encrypt_audit"] = lambda s, d: pdf_encrypt_audit_op(
        _f(s, d, "pdf_docs"))

    def pdf_locked_audit(s, d):
        """Password-locked corpus slice (both user+owner passwords set):
        the empty-password audit fails closed; the broadcast (doc_id,
        password) side table flips decrypt_ok_pw to true (kernels/pdfcrypt
        Algorithm 6/7 + R6 routes). r7: ONE kernel pass computes both
        columns (pdf_encrypt_audit both=True) — the r6 two-pass + join
        composition scanned, rebalanced and parsed the corpus twice
        (VERDICT r6 'What's wrong' #2); same rows, and the join of the
        two audit outputs is gone — only the broadcast password lookup
        (also present in r6) remains in the plan."""
        locked = _f(s, d, "pdf_locked")
        pws = _f(s, d, "pdf_passwords")
        return pdf_encrypt_audit_op(locked, passwords_df=pws, both=True)
    q["pdf_locked_audit"] = pdf_locked_audit
    q["page_raster_stats"] = lambda s, d: (
        # include_png=False: this query reads dims+ink only, and column
        # pruning cannot reach inside the kernel (guide §4.1) — the
        # pixmap/stats math is untouched, so rows are identical
        rasterize_pages(_f(s, d, "pdf_docs"), include_png=False)
        .select("doc_id", "page_no", "width", "height", "ink_ratio")
    )
    q["pdf_image_stats"] = lambda s, d: pdf_image_stats_op(
        _f(s, d, "pdf_docs"))

    def nested_pipeline(s, d):
        """Full circle on the input_hint nested table: spans array ->
        markdown via pure higher-order functions (no explode) ->
        extraction kernel -> spans. Must reproduce golden exactly."""
        from pdf_parse_bench_spark.operators.skew import spread_for_kernel
        # spread here, not in the kernel: the interpreted HOF markdown
        # re-assembly is a JVM stage ahead of kernel_op and would otherwise
        # run inside the single-row-group scan task; kernel_op then finds
        # its input shuffled and adds nothing
        docs = spread_for_kernel(_f(s, d, "spans_documents"))
        pieces = F.filter(
            F.transform(
                "spans",
                lambda sp: F.when(
                    sp["kind"] == "image",
                    F.concat(F.lit("![]("), sp["media_ref"], F.lit(")")),
                ).otherwise(sp["text"]),
            ),
            lambda x: x != "",
        )
        md = docs.select(
            "doc_id", F.array_join(pieces, "\n\n").alias("markdown")
        )
        return extract_spans(md, boilerplate=frozenset())
    q["nested_pipeline"] = nested_pipeline
    q["align_noisy"] = lambda s, d: align_extractions(
        _f(s, d, "noisy_markdown"),
        _f(s, d, "golden_spans").select("doc_id", "offset", "kind", "text", "media_ref"),
        boilerplate=frozenset(),
    )
    q["judge_scores"] = lambda s, d: score_spans_judged(
        _f(s, d, "golden_noisy_spans"), _f(s, d, "golden_spans")
    )
    q["judged_complexity_cube"] = lambda s, d: _cast_n(
        agg.judged_complexity_cube(
            score_spans_judged(_f(s, d, "golden_noisy_spans"),
                               _f(s, d, "golden_spans")),
            _f(s, d, "golden_noisy_spans"),
        )
    ).withColumn("gid", F.col("gid").cast("long"))
    q["boilerplate_lines"] = lambda s, d: compute_boilerplate(
        _f(s, d, "parsed_markdown")
    )
    q["span_match_rate"] = lambda s, d: score_spans(
        extract_spans(_f(s, d, "parsed_markdown")),
        _f(s, d, "golden_spans"),
    )
    def extract_lineage(s, d):
        # the lineage row is a projection of the one row per document the
        # kernel returns, so counting spans needs no groupBy
        return (lineage_of(extract_with_lineage(_f(s, d, "parsed_markdown")))
                .select("doc_id", "status", "n_spans"))
    q["extract_lineage"] = extract_lineage

    # ---- projections / filters / sequencing over the span model ----
    def span_kind_projection(s, d):
        docs = _f(s, d, "spans_documents")
        return (
            docs.select("doc_id", F.explode("spans").alias("s"))
            .where(F.col("s.kind").isin("table", "inline-formula", "display-formula"))
            .select("doc_id", F.col("s.offset").alias("offset"),
                    F.col("s.kind").alias("kind"), F.col("s.text").alias("text"))
        )
    q["span_kind_projection"] = span_kind_projection

    q["extract_table_cells"] = lambda s, d: table_cells(
        _f(s, d, "spans_documents"))

    def span_sequencing(s, d):
        docs = _f(s, d, "spans_documents")
        return (
            docs.select("doc_id", F.posexplode("spans").alias("pos", "s"))
            .select("doc_id", F.col("pos").cast("int").alias("pos"),
                    F.col("s.kind").alias("kind"),
                    F.col("s.offset").alias("offset"))
        )
    q["span_sequencing"] = span_sequencing

    q["empty_filter"] = lambda s, d: (
        _f(s, d, "golden_spans")
        .where((F.trim(F.col("text")) != "") & (F.col("kind") != "image"))
        .select("doc_id", "offset", "kind")
    )
    q["page_assembly"] = lambda s, d: assemble_markdown(
        _f(s, d, "golden_spans")
    )
    q["media_features"] = lambda s, d: media_features(
        _f(s, d, "golden_spans")
    )

    # ---- scalar functions ----
    def delimiter_normalization(s, d):
        from pdf_parse_bench_spark.operators.skew import spread_for_kernel
        # spread: no kernel_op sizes this JVM-only stage, and the
        # regexp_extract_all over the whole markdown column would
        # otherwise run inside the single-row-group scan task
        md = spread_for_kernel(_f(s, d, "parsed_markdown"))
        pat = r"(\$\$[\s\S]*?\$\$|\\\[[\s\S]*?\\\])"
        return md.select(
            "doc_id",
            F.explode(F.regexp_extract_all("markdown", F.lit(pat), F.lit(0))).alias("raw"),
        ).select(
            "doc_id",
            normalize_display_expr("raw").alias("canon"),
        )
    q["delimiter_normalization"] = delimiter_normalization

    q["normalize_for_matching"] = lambda s, d: (
        _f(s, d, "golden_spans")
        .where(F.col("kind").isin("inline-formula", "display-formula"))
        .select("doc_id", "offset",
                normalize_for_matching_expr("text").alias("norm"))
    )
    q["score_parse_clamp"] = lambda s, d: (
        _f(s, d, "extraction_scores")
        .select("doc_id", "index", "parser_name", "judge_model",
                parse_score_expr("raw_response").alias("parsed_score"))
    )
    q["unicode_normalization"] = lambda s, d: (
        _f(s, d, "golden_spans")
        .where(F.col("kind") == "inline-formula")
        .select("doc_id", "offset",
                preprocess_unicode_expr("text").alias("latex"))
    )

    # ---- aggregates / window / anti-join ----
    q["grouped_mean_scores"] = lambda s, d: _cast_n(
        agg.grouped_mean_scores(_f(s, d, "extraction_scores")))
    q["score_cube"] = lambda s, d: _cast_n(
        agg.score_cube(_f(s, d, "extraction_scores"))
    ).withColumn("gid", F.col("gid").cast("long"))
    q["decode_media"] = lambda s, d: _cast(
        mediaops.decode_media(_f(s, d, "media_files")),
        n_bytes="long")
    q["thumbnail_media"] = lambda s, d: _cast(
        mediaops.thumbnail_media(_f(s, d, "media_files")),
        thumb_png_bytes="long")
    q["audio_features"] = lambda s, d: _cast(
        mediaops.audio_features(_f(s, d, "audio_files")),
        n_samples="long", duration_ms="long")
    q["video_frames"] = lambda s, d: mediaops.video_frames(
        _f(s, d, "video_files"))
    q["extracted_complexity_cube"] = lambda s, d: (
        agg.extracted_complexity_cube(extract_spans(_f(s, d, "parsed_markdown")))
        .select("kind", "complexity",
                F.col("n_spans").cast("long").alias("n_spans"),
                F.col("gid").cast("long").alias("gid"))
    )
    q["page_assembly_refs"] = lambda s, d: substitute_table_refs(
        _f(s, d, "markdown_with_refs"), _f(s, d, "doc_tables"))
    q["benchmark_counts"] = lambda s, d: (
        agg.benchmark_counts(_f(s, d, "extraction_scores"))
        .select("parser_name",
                F.col("num_docs").cast("long").alias("num_docs"),
                F.col("total_inline_formulas").cast("long").alias("total_inline_formulas"),
                F.col("total_display_formulas").cast("long").alias("total_display_formulas"),
                F.col("total_tables").cast("long").alias("total_tables"))
    )
    q["extraction_quality"] = lambda s, d: (
        agg.extraction_quality(_f(s, d, "extraction_scores"))
        .select("doc_id", "parser_name",
                F.col("n_failed").cast("long").alias("n_failed"),
                F.col("n_errors").cast("long").alias("n_errors"),
                F.col("n_scored").cast("long").alias("n_scored"))
    )
    q["leaderboard"] = lambda s, d: (
        agg.leaderboard(_f(s, d, "extraction_scores"))
        .withColumn("rank", F.col("rank").cast("long"))
    )
    q["pending_scores"] = lambda s, d: agg.pending_scores(
        _f(s, d, "extraction_scores")
    )

    # ---- dedup suite (driver tables) ----
    q["dedup_exact"] = lambda s, d: _cast(
        dd.dedup_exact(_t(s, d, "documents")), dup_count="long")
    q["minhash_signatures"] = lambda s, d: (
        dd.minhash_signatures(_t(s, d, "documents"))
        .select("doc_id", F.array_join(
            F.transform("signature", lambda x: x.cast("string")), "|"
        ).alias("sig"))
    )
    q["lsh_candidate_pairs"] = lambda s, d: dd.lsh_candidate_pairs(
        _t(s, d, "documents"))
    q["ngram_jaccard_pairs"] = lambda s, d: dd.ngram_jaccard_pairs(
        _t(s, d, "documents"))
    q["simhash_signatures"] = lambda s, d: _cast(
        dd.simhash_signatures(_t(s, d, "documents")), simhash="long")
    q["simhash_near_dups"] = lambda s, d: dd.simhash_near_dups(
        _t(s, d, "documents"))
    q["dedup_clusters"] = lambda s, d: dd.dedup_clusters(
        _t(s, d, "documents"))
    q["embedding_near_dups"] = lambda s, d: dd.embedding_near_dups(
        _t(s, d, "embeddings"))

    # ---- similarity search ----
    q["ann_topk"] = lambda s, d: _cast(
        sim.brute_force_topk(_t(s, d, "embeddings")), rank="long")
    q["ann_lsh"] = lambda s, d: _cast(
        sim.sketch_topk(_t(s, d, "embeddings")), rank="long")
    q["ann_lsh_buckets"] = lambda s, d: _cast(
        sim.lsh_topk(_t(s, d, "embeddings"), probe_radius=2), rank="long")
    q["ann_lsh_recall"] = lambda s, d: sim.lsh_recall(_t(s, d, "embeddings"))
    q["ann_ivf"] = lambda s, d: _cast(
        sim.ivf_topk(_t(s, d, "embeddings")), rank="long")
    q["quantize_embeddings"] = lambda s, d: sim.quantize_embeddings(
        _t(s, d, "embeddings"))
    q["semantic_dedup"] = lambda s, d: sim.semantic_dedup(
        _t(s, d, "embeddings"))
    q["domain_stats"] = lambda s, d: ts.domain_stats(
        _f(s, d, "raw_web_documents"))

    # ---- text analysis ----
    q["lang_id"] = lambda s, d: _cast(
        ts.lang_id(_t(s, d, "documents")), marker_hits="long")
    q["quality_score"] = lambda s, d: _cast(
        ts.quality_score(_t(s, d, "documents")), n_chars="long", n_words="long")
    q["token_counts"] = lambda s, d: _cast(
        ts.token_counts(_t(s, d, "documents")), ws_tokens="long", regex_tokens="long")
    q["fingerprint"] = lambda s, d: ts.fingerprint(_t(s, d, "documents"))
    q["winnowing_fingerprints"] = lambda s, d: ts.winnowing_fingerprints(
        _t(s, d, "documents"))
    q["corpus_filter"] = lambda s, d: ts.corpus_filter(_t(s, d, "documents"))
    q["repetition_stats"] = lambda s, d: ts.repetition_stats(
        _t(s, d, "documents"))
    q["decontaminate"] = lambda s, d: (
        ts.decontaminate(_t(s, d, "documents"))
        .select("doc_id",
                F.col("n_eval_grams").cast("long").alias("n_eval_grams")))
    q["chunk_documents"] = lambda s, d: ts.chunk_documents(
        _t(s, d, "documents"))
    q["url_dedup"] = lambda s, d: ts.url_dedup(
        _f(s, d, "raw_web_documents"))
    q["stratified_sample"] = lambda s, d: ts.stratified_sample(
        _t(s, d, "documents"))
    q["lm_score"] = lambda s, d: ts.lm_score(_t(s, d, "documents"))
    q["pack_sequences"] = lambda s, d: ts.pack_sequences(
        _t(s, d, "documents"))
    q["pii_scrub"] = lambda s, d: ts.pii_scrub(_f(s, d, "raw_web_documents"))
    q["doc_stats_rollup"] = lambda s, d: ts.doc_stats_rollup(
        _t(s, d, "documents"))
    q["quality_percentiles"] = lambda s, d: ts.quality_percentiles(
        _t(s, d, "documents"))
    q["formula_artifacts"] = lambda s, d: (
        # include_png=False: metadata-only consumer; pruning cannot reach
        # inside the kernel, and the render/stats math is unchanged
        mediaops.render_formula_artifacts(_f(s, d, "render_requests"),
                                          include_png=False)
        .select("doc_id", "offset", "media_ref", "width", "height",
                "mean_intensity", "status")
    )
    q["duplicate_ngram_pairs"] = lambda s, d: (
        dd.duplicate_ngram_pairs(_t(s, d, "documents"))
        .select("doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared"))
    )
    q["tfidf_top_terms"] = lambda s, d: (
        ts.tfidf_top_terms(_t(s, d, "documents"))
        .select("doc_id", "word", "tfidf",
                F.col("rank").cast("long").alias("rank"))
    )
    q["vocab_stats"] = lambda s, d: (
        ts.vocab_stats(_t(s, d, "documents"))
        .select("word", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                F.col("rank").cast("long").alias("rank"))
    )

    # ---- relational / events ----
    def tpch_q1(s, d):
        li = _t(s, d, "lineitem")
        return (
            # epoch-based cutoff (tz-proof across engines): 1998-09-02 UTC
            li.where(epoch_seconds("l_shipdate") <= 904694400)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                round_half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
                round_half_up(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                round_half_up(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                round_half_up(F.avg("l_quantity")).alias("avg_qty"),
                round_half_up(F.avg("l_discount")).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )
    q["tpch_q1"] = tpch_q1

    def tpch_q6(s, d):
        li = _t(s, d, "lineitem")
        return (
            li.where(
                (epoch_seconds("l_shipdate") >= 788918400)   # 1995-01-01 UTC
                & (epoch_seconds("l_shipdate") < 820454400)  # 1996-01-01 UTC
                & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.05)
                & (F.col("l_quantity") < 24)
            )
            .agg(round_half_up(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                 .alias("revenue"),
                 F.count("*").alias("n"))
        )
    q["tpch_q6"] = tpch_q6

    def tpch_q3(s, d):
        li = _t(s, d, "lineitem")
        o = _t(s, d, "orders")
        c = _t(s, d, "customer")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .where((F.col("c_mktsegment") == "BUILDING")
                   & (epoch_seconds("o_orderdate") < 794016000)   # 1995-03-01
                   & (epoch_seconds("l_shipdate") > 794016000))
            .groupBy("l_orderkey")
            .agg(round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10)
        )
    q["tpch_q3"] = tpch_q3

    def revenue_by_region(s, d):
        o = _t(s, d, "orders")
        c = _t(s, d, "customer")
        n = _t(s, d, "nation")
        r = _t(s, d, "region")
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(round_half_up(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders"))
        )
    q["revenue_by_region"] = revenue_by_region

    def top_events_per_user(s, d):
        from pyspark.sql import Window
        ev = _t(s, d, "events")
        w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("user_id", "event_id", "value", F.col("rn").cast("long").alias("rn"))
        )
    q["top_events_per_user"] = top_events_per_user

    def sessionize_events(s, d):
        out = sessionize(_t(s, d, "events"))
        return out.select(
            "user_id",
            F.col("session_no").cast("long").alias("session_no"),
            F.col("n_events").cast("long").alias("n_events"),
            epoch_micros("session_start").alias("start_epoch"),
            epoch_micros("session_end").alias("end_epoch"),
            "session_value",
        )
    q["sessionize_events"] = sessionize_events

    def event_props_extract(s, d):
        ev = _t(s, d, "events")
        return ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        )
    q["event_props_extract"] = event_props_extract

    def windowed_counts(s, d):
        out = windowed_event_counts(_t(s, d, "events"))
        return out.select(
            epoch_seconds("window_start").alias("window_epoch"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            round_half_up(F.col("total_value"), 2).alias("total_value"),
        )
    q["windowed_counts"] = windowed_counts

    # Driver-coverage rotation (r7 = VERDICT r6 item 4): the driver's
    # correctness gate checks the FIRST 50 registered queries. Round 7
    # re-enters ALL 33 queries deferred in round 6 (so the union of
    # history/CORRECTNESS_r06 + r07 covers every registered query — nothing
    # misses two consecutive driver artifacts) and fills the remaining
    # 17 slots with the queries this optimization round rewrote most
    # deeply (python pair/shingle kernels, single-pass locked audit,
    # fused lineage, OpenSSL cipher path, skipped PNG encodes).
    # Deferred queries are r06-driver-green AND either untouched or
    # touched only by the shallow shared changes (spread_for_kernel /
    # bounded rebalance sample) that the gated queries exercise on the
    # same code path. ALL queries stay covered locally by
    # tools/check_parity.py + tests/test_oracle_parity.py.
    rotate_first = [
        # (a) the 33 deferred in r06 — back under the driver gate
        "benchmark_counts", "grouped_mean_scores", "score_cube",
        "ngram_jaccard_pairs", "embedding_near_dups", "lsh_candidate_pairs",
        "extracted_complexity_cube", "leaderboard", "pending_scores",
        "extraction_quality", "html_spans", "token_counts", "fingerprint",
        "corpus_filter", "lang_id", "quality_score", "simhash_signatures",
        "dedup_exact", "judge_scores", "judged_complexity_cube",
        "span_match_rate", "span_kind_projection", "span_sequencing",
        "empty_filter", "normalize_for_matching", "score_parse_clamp",
        "delimiter_normalization", "semantic_dedup", "tei_spans",
        "unicode_normalization", "minhash_signatures", "simhash_near_dups",
        "boilerplate_lines",
        # (b) rewritten most deeply in r07 — must sit inside the gate
        "lm_score", "doc_stats_rollup", "winnowing_fingerprints",
        "decontaminate", "tfidf_top_terms", "dedup_clusters",
        "duplicate_ngram_pairs", "pdf_locked_audit", "pdf_encrypt_audit",
        "pdf_parse", "pdf_spans", "page_raster_stats", "pdf_image_stats",
        "extract_lineage", "formula_artifacts", "align_extractions",
        # page_assembly_refs was mid (ungated) in r06 as well — it must
        # not miss two consecutive driver artifacts
        "page_assembly_refs",
    ]
    defer_last = [
        # r06-driver-green; untouched in r07 or touched only via shared
        # shallow paths that gated queries cover (spread / rebalance
        # sample / _with_norm — exercised by the (b) set above)
        "pii_scrub", "quality_percentiles", "vocab_stats", "tpch_q1",
        "tpch_q6", "tpch_q3", "revenue_by_region", "top_events_per_user",
        "sessionize_events", "event_props_extract", "windowed_counts",
        "audio_features", "video_frames", "ann_topk", "ann_lsh",
        "ann_lsh_buckets", "ann_lsh_recall", "ann_ivf",
        "quantize_embeddings", "domain_stats", "repetition_stats",
        "chunk_documents", "url_dedup", "stratified_sample",
        "pack_sequences", "decode_media", "thumbnail_media",
        "layout_spans", "align_noisy", "nested_pipeline", "media_features",
        "page_assembly", "extract_table_cells",
        # extract_spans' full path stays gated by proxy: gated
        # extracted_complexity_cube and span_match_rate both run it
        "extract_spans",
    ]
    assert len(rotate_first) == 50 and len(defer_last) == 34
    assert all(k in q for k in rotate_first + defer_last)
    assert not set(rotate_first) & set(defer_last)
    mid = [k for k in q if k not in set(rotate_first) | set(defer_last)]
    q = {k: q[k] for k in rotate_first + mid + defer_last}
    return q


def _cast(df: DataFrame, **types: str) -> DataFrame:
    for c, t in types.items():
        df = df.withColumn(c, F.col(c).cast(t))
    return df


def _cast_n(df: DataFrame) -> DataFrame:
    return df.withColumn("n", F.col("n").cast("long"))


# ---------------------------------------------------------------------------
# oracle_sql — DuckDB equivalents (views pre-registered for the driver
# tables; fixture tables referenced by absolute parquet path at sf0.01)
# ---------------------------------------------------------------------------

_GOLD = f"'{ORACLE_FX}/golden_spans.parquet'"
_GLAY = f"'{ORACLE_FX}/golden_layout_spans.parquet'"
_GPDF = f"'{ORACLE_FX}/golden_pdf_text.parquet'"
_MD = f"'{ORACLE_FX}/parsed_markdown.parquet'"
_SC = f"'{ORACLE_FX}/extraction_scores.parquet'"

_WORDS_CTE = (
    "words AS (SELECT doc_id, list_filter(string_split_regex(trim(text), ' +'),"
    " x -> x <> '') AS w FROM documents)"
)

_SHINGLES_CTE = _WORDS_CTE + (
    ", sh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN "
    "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
    "ELSE [array_to_string(w, ' ')] END AS shingles FROM words)"
)


def _minhash_sql() -> str:
    # Kirsch-Mitzenmacher double hashing, mirroring dd.minhash_signatures:
    # one md5 per shingle, h_i = (a + i*b) mod 2^32 over its 32-bit halves
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> "
        f"(('0x' || substr(md5(s), 1, 8))::BIGINT "
        f"+ {i} * ('0x' || substr(md5(s), 9, 8))::BIGINT) "
        f"% {dd._MINHASH_MOD})) AS mh{i}"
        for i in range(dd.MINHASH_K)
    )
    return f"WITH {_SHINGLES_CTE} SELECT doc_id, {mins} FROM sh"


def _lsh_bands_sql() -> str:
    band_rows = []
    for b in range(dd.LSH_BANDS):
        cols = " || '|' || ".join(
            f"mh{b * dd.LSH_ROWS + r}" for r in range(dd.LSH_ROWS)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM sig")
    return f"sig AS ({_minhash_sql()}), bands AS ({' UNION ALL '.join(band_rows)})"


def _lsh_pairs_sql() -> str:
    return (
        f"WITH {_lsh_bands_sql()} "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key "
        "AND a.doc_id < b.doc_id"
    )


def _dedup_clusters_sql() -> str:
    """Connected components of the Jaccard>=dd.CLUSTER_JACCARD graph via a
    recursive CTE (min-label propagation) — the oracle twin of
    dd.dedup_clusters."""
    jac = ("floor((CAST(inter AS DOUBLE) / (la + lb - inter)) * 1000000 + 0.5)"
           " / 1000000")
    return (
        f"WITH RECURSIVE {_lsh_bands_sql()}, "
        "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key "
        "AND a.doc_id < b.doc_id), "
        f"dsh AS (SELECT doc_id, list_distinct(shingles) AS sh FROM ({_minhash_shingles_only()})), "
        "edges AS (SELECT doc_a, doc_b FROM ("
        "SELECT doc_a, doc_b, len(list_filter(x.sh, e -> list_contains(y.sh, e))) AS inter, "
        "len(x.sh) AS la, len(y.sh) AS lb "
        "FROM cands JOIN dsh x ON cands.doc_a = x.doc_id "
        "JOIN dsh y ON cands.doc_b = y.doc_id) "
        f"WHERE {jac} >= {dd.CLUSTER_JACCARD}), "
        "sym AS (SELECT doc_a, doc_b FROM edges "
        "UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM edges), "
        "comp(doc_id, label) AS ("
        "SELECT doc_id, doc_id FROM documents "
        "UNION "
        "SELECT s.doc_b, c.label FROM comp c JOIN sym s ON s.doc_a = c.doc_id) "
        "SELECT doc_id, min(label) AS cluster_id FROM comp GROUP BY doc_id"
    )


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN substr(h, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{b}"
        for b in range(dd.SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(dd.SIMHASH_BITS)
    )
    return (
        f"WITH {_WORDS_CTE}, "
        "h AS (SELECT doc_id, md5(unnest(w)) AS h FROM words), "
        f"v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM v"
    )


def _simhash64_near_dups_sql() -> str:
    """64-bit SimHash Hamming-neighbor oracle mirroring
    dedup.simhash_near_dups: 4x16-bit blocks, block-equality candidates,
    popcount(xor) verify."""
    # bit k of the md5's first 64 bits (two 32-bit halves), mirroring
    # dd.simhash64_blocks' one-md5 shape; vote sign is 2*sum(bit) > n
    votes = ", ".join(
        f"sum((h{0 if k < 32 else 1} >> {k % 32}) & 1) AS s{k}"
        for k in range(64)
    )
    blocks = ", ".join(
        "CAST(" + " + ".join(
            f"(CASE WHEN 2 * s{j * 16 + r} > n THEN {1 << r} ELSE 0 END)"
            for r in range(16)
        ) + f" AS INT) AS b{j}"
        for j in range(dd.SIMHASH64_BLOCKS)
    )
    hamming = " + ".join(
        f"bit_count(xor(x.b{j}, y.b{j}))" for j in range(dd.SIMHASH64_BLOCKS)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS blk, b{j} AS blk_val FROM sig"
        for j in range(dd.SIMHASH64_BLOCKS)
    )
    return (
        f"WITH {_WORDS_CTE}, "
        "h AS (SELECT doc_id, "
        "('0x' || substr(md5(unnest(w)), 1, 8))::BIGINT AS h0, "
        "('0x' || substr(md5(unnest(w)), 9, 8))::BIGINT AS h1 FROM words), "
        f"v AS (SELECT doc_id, count(*) AS n, {votes} FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {blocks} FROM v), "
        f"bands AS ({bands}), "
        "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.blk = b.blk "
        "AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id) "
        f"SELECT doc_a, doc_b, CAST({hamming} AS BIGINT) AS hamming "
        "FROM cands JOIN sig x ON cands.doc_a = x.doc_id "
        "JOIN sig y ON cands.doc_b = y.doc_id "
        f"WHERE {hamming} <= {dd.SIMHASH64_MAX_HAMMING}"
    )


_EMB_NORM_CTE = (
    "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings), "
    "n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm, "
    "{bucket} AS bucket FROM v)"
)


def _sketch_words_sql(bits: int) -> tuple[str, str]:
    """The two 32-bit sign-sketch words from the SAME seeded hyperplanes
    the Spark operator uses (similarity._sig_words_udf)."""
    planes = sim.hyperplanes(bits)
    words = []
    for w in range(0, bits, 32):
        terms = []
        for i, plane in enumerate(planes[w:w + 32]):
            lits = "[" + ", ".join(repr(x) for x in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lits}) >= 0 "
                f"THEN {1 << i} ELSE 0 END)")
        words.append("CAST(" + " + ".join(terms) + " AS BIGINT)")
    return words[0], words[1]


def _sign_bucket_sql(n_planes: int) -> str:
    """Integer sign-LSH bucket from the SAME seeded hyperplanes the Spark
    operators use (similarity.hyperplanes) — bit p set iff dot >= 0."""
    planes = sim.hyperplanes(n_planes)
    terms = []
    for p, plane in enumerate(planes):
        lits = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lits}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


_LANG_SCORES = {
    lang: f"len(list_filter(w, x -> list_contains({list(m)}, x)))"
    for lang, m in ts.LANG_MARKERS.items()
}
_LANGS_SORTED = sorted(ts.LANG_MARKERS)
_BEST = "greatest(" + ", ".join(f"s_{la}" for la in _LANGS_SORTED) + ")"
_PRED_CASE = (
    "CASE WHEN " + _BEST + " <= 0 THEN 'unknown' "
    + " ".join(f"WHEN s_{la} = {_BEST} THEN '{la}'" for la in _LANGS_SORTED)
    + " ELSE 'unknown' END"
)

_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in ts.STOPWORDS) + "]"


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # ---- extraction: oracle == golden tables (exact-equality gate) ----
    o["extract_spans"] = (
        f'SELECT doc_id, "offset", kind, text, media_ref FROM {_GOLD}'
    )
    o["align_extractions"] = o["extract_spans"]
    o["html_spans"] = o["extract_spans"]
    o["tei_spans"] = o["extract_spans"]
    o["nested_pipeline"] = o["extract_spans"]
    o["align_noisy"] = (
        'SELECT doc_id, "offset", kind, text, media_ref FROM '
        f"'{ORACLE_FX}/golden_noisy_spans.parquet'"
    )
    o["judge_scores"] = (
        "SELECT n.doc_id, n.\"offset\", n.kind, "
        "greatest(0, CAST(floor(10.0 * (1 - CAST(levenshtein(n.text, g.text) AS DOUBLE) "
        "/ greatest(strlen(n.text), strlen(g.text), 1)) + 0.5) AS INT)) AS score "
        f"FROM '{ORACLE_FX}/golden_noisy_spans.parquet' n "
        f"JOIN {_GOLD} g ON n.doc_id = g.doc_id AND n.\"offset\" = g.\"offset\""
    )
    o["judged_complexity_cube"] = (
        "WITH judged AS (SELECT n.doc_id, n.\"offset\", n.kind, "
        "greatest(0, CAST(floor(10.0 * (1 - CAST(levenshtein(n.text, g.text) AS DOUBLE) "
        "/ greatest(strlen(n.text), strlen(g.text), 1)) + 0.5) AS INT)) AS score, "
        "CASE WHEN n.kind = 'table' THEN ("
        "CASE WHEN len(string_split(n.text, '\\\\')) - 2 <= 3 THEN 'simple' "
        "WHEN len(string_split(n.text, '\\\\')) - 2 <= 6 THEN 'moderate' "
        "ELSE 'complex' END) END AS complexity "
        f"FROM '{ORACLE_FX}/golden_noisy_spans.parquet' n "
        f"JOIN {_GOLD} g ON n.doc_id = g.doc_id AND n.\"offset\" = g.\"offset\") "
        "SELECT kind, complexity, "
        "floor(avg(score) * 1000000 + 0.5) / 1000000 AS avg_score, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(GROUPING(kind, complexity) AS BIGINT) AS gid "
        "FROM judged GROUP BY CUBE (kind, complexity)"
    )
    o["layout_spans"] = (
        f'SELECT doc_id, "offset", kind, text, media_ref FROM {_GLAY}'
    )
    o["pdf_parse"] = f"SELECT doc_id, text FROM {_GPDF}"
    o["pdf_spans"] = (
        'SELECT doc_id, "offset", kind, text, media_ref '
        f"FROM '{ORACLE_FX}/golden_pdf_spans.parquet'"
    )
    o["page_raster_stats"] = (
        "SELECT doc_id, page_no, width, height, ink_ratio "
        f"FROM '{ORACLE_FX}/golden_raster_stats.parquet'"
    )
    o["pdf_image_stats"] = (
        "SELECT doc_id, page_no, seq, media_ref, px_w, px_h, "
        "mean_intensity, decoded "
        f"FROM '{ORACLE_FX}/golden_pdf_images.parquet'"
    )
    o["pdf_encrypt_audit"] = (
        "SELECT doc_id, scheme, decrypt_ok "
        f"FROM '{ORACLE_FX}/golden_pdf_enc.parquet'"
    )
    o["pdf_locked_audit"] = (
        "SELECT doc_id, scheme, decrypt_ok_empty, decrypt_ok_pw "
        f"FROM '{ORACLE_FX}/golden_pdf_locked.parquet'"
    )
    o["boilerplate_lines"] = (
        "WITH lines AS (SELECT doc_id, list_filter(list_transform("
        "string_split(markdown, chr(10)), x -> trim(x)), x -> x <> '') AS ls "
        f"FROM {_MD}), "
        "edges AS (SELECT doc_id, unnest(list_distinct([ls[1], ls[-1]])) AS line "
        "FROM lines WHERE len(ls) > 0) "
        "SELECT line FROM edges GROUP BY line HAVING count(DISTINCT doc_id) >= 5"
    )
    o["span_match_rate"] = (
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_golden, "
        "CAST(count(*) AS BIGINT) AS n_matched, CAST(1.0 AS DOUBLE) AS match_rate "
        f"FROM {_GOLD} GROUP BY doc_id"
    )
    o["extract_lineage"] = (
        "SELECT doc_id, 'ok' AS status, CAST(count(*) AS BIGINT) AS n_spans "
        f"FROM {_GOLD} GROUP BY doc_id"
    )

    # ---- span-model projections (golden_spans == exploded spans table) ----
    o["span_kind_projection"] = (
        f'SELECT doc_id, "offset", kind, text FROM {_GOLD} '
        "WHERE kind IN ('table', 'inline-formula', 'display-formula')"
    )
    o["extract_table_cells"] = (
        "WITH t AS (SELECT doc_id, CAST(\"offset\" AS BIGINT) AS \"offset\", "
        f"text AS tab FROM {_GOLD} WHERE kind = 'table'), "
        "r AS (SELECT doc_id, \"offset\", "
        "CAST(length(regexp_replace(regexp_extract(tab, "
        "'\\\\begin\\{tabular\\}\\{([^}]*)\\}', 1), '[^lcr]', '', 'g')) "
        "AS BIGINT) AS n_cols, "
        "list_filter(string_split(tab, chr(10)), x -> contains(x, '&')) "
        "AS rows FROM t), "
        "rr AS (SELECT doc_id, \"offset\", n_cols, "
        "CAST(generate_subscripts(rows, 1) - 1 AS BIGINT) AS row_idx, "
        "regexp_replace(regexp_replace(unnest(rows), "
        "'\\\\textbf\\{([^}]*)\\}', '\\1', 'g'), '\\s*\\\\\\\\\\s*$', '') "
        "AS rowc FROM r) "
        "SELECT doc_id, \"offset\", row_idx, n_cols, "
        "CAST(len(string_split(rowc, ' & ')) AS BIGINT) AS n_cells, "
        "array_to_string(list_transform(string_split(rowc, ' & '), "
        "c -> trim(c)), '|') AS cells FROM rr"
    )
    o["span_sequencing"] = (
        f'SELECT doc_id, "offset" AS pos, kind, "offset" FROM {_GOLD}'
    )
    o["empty_filter"] = (
        f'SELECT doc_id, "offset", kind FROM {_GOLD} '
        "WHERE trim(text) <> '' AND kind <> 'image'"
    )
    o["page_assembly"] = (
        "SELECT doc_id, string_agg("
        "CASE WHEN kind = 'image' THEN '![](' || media_ref || ')' ELSE text END, "
        'chr(10) || chr(10) ORDER BY "offset") AS markdown '
        f"FROM {_GOLD} WHERE text <> '' OR kind = 'image' GROUP BY doc_id"
    )
    o["video_frames"] = (
        "SELECT doc_id, media_ref, frame_no, width, height, n_frames, "
        "fps_num, fps_den, y_mean, status "
        f"FROM '{ORACLE_FX}/golden_video_stats.parquet'"
    )
    o["audio_features"] = (
        "SELECT doc_id, media_ref, channels, sample_rate, bits, "
        "n_samples, duration_ms, mean_abs, peak, status "
        f"FROM '{ORACLE_FX}/golden_audio_stats.parquet'"
    )
    o["thumbnail_media"] = (
        'SELECT doc_id, "offset", media_ref, thumb_w, thumb_h, '
        "thumb_mean, thumb_png_bytes, status "
        f"FROM '{ORACLE_FX}/golden_thumb_stats.parquet'"
    )
    o["decode_media"] = (
        'SELECT doc_id, "offset", media_ref, width, height, channels, '
        "n_bytes, mean_intensity, status "
        f"FROM '{ORACLE_FX}/golden_media_stats.parquet'"
    )
    o["media_features"] = (
        'SELECT doc_id, "offset", media_ref, '
        "CAST(regexp_extract(media_ref, 'page_(\\d+)_(\\d+)_(\\d+)_(\\d+)\\.png', 1) AS INT) AS x, "
        "CAST(regexp_extract(media_ref, 'page_(\\d+)_(\\d+)_(\\d+)_(\\d+)\\.png', 2) AS INT) AS y, "
        "CAST(regexp_extract(media_ref, 'page_(\\d+)_(\\d+)_(\\d+)_(\\d+)\\.png', 3) AS INT) AS w, "
        "CAST(regexp_extract(media_ref, 'page_(\\d+)_(\\d+)_(\\d+)_(\\d+)\\.png', 4) AS INT) AS h, "
        "CAST(regexp_extract(media_ref, 'page_(\\d+)_(\\d+)_(\\d+)_(\\d+)\\.png', 3) AS INT) * "
        "CAST(regexp_extract(media_ref, 'page_(\\d+)_(\\d+)_(\\d+)_(\\d+)\\.png', 4) AS INT) AS area "
        f"FROM {_GOLD} WHERE kind = 'image'"
    )

    # ---- scalar functions ----
    o["delimiter_normalization"] = (
        "WITH raws AS (SELECT doc_id, unnest(regexp_extract_all(markdown, "
        r"'(\$\$[\s\S]*?\$\$|\\\[[\s\S]*?\\\])')) AS raw "
        f"FROM {_MD}) "
        "SELECT doc_id, '$$' || trim(CASE "
        "WHEN raw LIKE '$$%' THEN substring(raw, 3, length(raw) - 4) "
        "WHEN raw LIKE '\\[%' THEN substring(raw, 3, length(raw) - 4) "
        "ELSE raw END) || '$$' AS canon FROM raws"
    )
    o["normalize_for_matching"] = (
        'SELECT doc_id, "offset", ' r"regexp_replace(text, '[\s\\]+', '', 'g') AS norm "
        f"FROM {_GOLD} WHERE kind IN ('inline-formula', 'display-formula')"
    )
    o["score_parse_clamp"] = (
        "SELECT doc_id, index, parser_name, judge_model, "
        r"least(greatest(coalesce(TRY_CAST(regexp_extract(raw_response, '(-?\d+)', 1) "
        "AS INTEGER), 0), 0), 10) AS parsed_score "
        f"FROM {_SC}"
    )
    # the r4 long-tail map pushes the mechanical replace chain past
    # DuckDB's 128-deep expression-binder recursion limit, so the chain is
    # split into nested subquery LAYERS of <= 60 replaces each (same
    # composition order as the Spark expr / python kernel)
    _pairs = (
        [(ch, f"_{i}") for i, ch in enumerate("₀₁₂₃₄₅₆₇₈₉")]
        + [(ch, f"^{i}") for i, ch in enumerate("⁰¹²³⁴⁵⁶⁷⁸⁹")]
        + list(tn.UNICODE_LATEX_MAP.items())
    )
    _uni_q = (f'SELECT doc_id, "offset", text AS u FROM {_GOLD} '
              "WHERE kind = 'inline-formula'")
    for at in range(0, len(_pairs), 60):
        expr = "u"
        for ch, latex in _pairs[at:at + 60]:
            expr = (f"replace({expr}, '{ch}', "
                    f"'{latex.replace(chr(39), chr(39) * 2)}')")
        _uni_q = f'SELECT doc_id, "offset", {expr} AS u FROM ({_uni_q})'
    _uni = "u"
    for mark, acc in tn.COMBINING_LATEX.items():
        # RE2 replacement: '\\' = literal backslash, '\1' = group ref
        repl = ("\\\\" + acc + "{\\1}").replace("'", "''")
        _uni = (f"regexp_replace({_uni}, '([A-Za-z]){mark}', "
                f"'{repl}', 'g')")
    o["unicode_normalization"] = (
        f'SELECT doc_id, "offset", {_uni} AS latex FROM ({_uni_q})'
    )

    # ---- aggregates ----
    o["grouped_mean_scores"] = (
        "SELECT parser_name, kind, judge_model, floor((avg(score)) * 1000000 + 0.5) / 1000000 AS avg_score, "
        f"CAST(count(*) AS BIGINT) AS n FROM {_SC} "
        "GROUP BY parser_name, kind, judge_model"
    )
    # extraction re-derives table complexity; the golden fixture carries the
    # construction-time label — matching cubes prove the parse-time rule
    o["extracted_complexity_cube"] = (
        "SELECT kind, complexity, CAST(count(*) AS BIGINT) AS n_spans, "
        f"CAST(GROUPING(kind, complexity) AS BIGINT) AS gid FROM {_GOLD} "
        "GROUP BY CUBE (kind, complexity)"
    )
    o["page_assembly_refs"] = (
        f"SELECT doc_id, markdown FROM '{ORACLE_FX}/golden_markdown_refs.parquet'"
    )
    o["score_cube"] = (
        "SELECT kind, complexity, floor((avg(score)) * 1000000 + 0.5) / 1000000 AS avg_score, "
        "CAST(count(*) AS BIGINT) AS n, "
        f"CAST(GROUPING(kind, complexity) AS BIGINT) AS gid FROM {_SC} "
        "GROUP BY CUBE (kind, complexity)"
    )
    o["benchmark_counts"] = (
        "SELECT parser_name, CAST(count(DISTINCT doc_id) AS BIGINT) AS num_docs, "
        "CAST(sum(CASE WHEN kind = 'inline-formula' THEN 1 ELSE 0 END) AS BIGINT) AS total_inline_formulas, "
        "CAST(sum(CASE WHEN kind = 'display-formula' THEN 1 ELSE 0 END) AS BIGINT) AS total_display_formulas, "
        "CAST(sum(CASE WHEN kind = 'table' THEN 1 ELSE 0 END) AS BIGINT) AS total_tables "
        f"FROM {_SC} GROUP BY parser_name"
    )
    o["extraction_quality"] = (
        "SELECT doc_id, parser_name, "
        "CAST(sum(CASE WHEN score = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed, "
        "CAST(sum(len(errors)) AS BIGINT) AS n_errors, "
        "CAST(count(*) AS BIGINT) AS n_scored "
        f"FROM {_SC} GROUP BY doc_id, parser_name"
    )
    o["leaderboard"] = (
        "WITH a AS (SELECT parser_name, floor((avg(score)) * 1000000 + 0.5) / 1000000 AS avg_score "
        f"FROM {_SC} WHERE judge_model = 'judge-x' GROUP BY parser_name) "
        "SELECT parser_name, avg_score, CAST(row_number() OVER "
        "(ORDER BY avg_score DESC, parser_name) AS BIGINT) AS rank FROM a"
    )
    o["pending_scores"] = (
        f"SELECT DISTINCT doc_id, index, parser_name FROM {_SC} "
        "EXCEPT "
        f"SELECT DISTINCT doc_id, index, parser_name FROM {_SC} "
        "WHERE judge_model = 'judge-y'"
    )

    # ---- dedup ----
    o["dedup_exact"] = (
        "SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, "
        "CAST(count(*) AS BIGINT) AS dup_count FROM documents GROUP BY md5(text)"
    )
    sig_cols = " || '|' || ".join(f"mh{i}" for i in range(dd.MINHASH_K))
    o["minhash_signatures"] = (
        f"WITH sig AS ({_minhash_sql()}) SELECT doc_id, {sig_cols} AS sig FROM sig"
    )
    o["lsh_candidate_pairs"] = _lsh_pairs_sql()
    o["ngram_jaccard_pairs"] = (
        f"WITH {_lsh_bands_sql()}, "
        "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key "
        "AND a.doc_id < b.doc_id), "
        f"dsh AS (SELECT doc_id, list_distinct(shingles) AS sh FROM ({_minhash_shingles_only()})) "
        "SELECT doc_a, doc_b, floor((CAST(inter AS DOUBLE) / (la + lb - inter)) * 1000000 + 0.5) / 1000000 AS jaccard "
        "FROM (SELECT doc_a, doc_b, "
        "len(list_filter(x.sh, e -> list_contains(y.sh, e))) AS inter, "
        "len(x.sh) AS la, len(y.sh) AS lb "
        "FROM cands JOIN dsh x ON cands.doc_a = x.doc_id "
        "JOIN dsh y ON cands.doc_b = y.doc_id) "
        "WHERE floor((CAST(inter AS DOUBLE) / (la + lb - inter)) * 1000000 + 0.5) / 1000000 >= 0.5"
    )
    o["simhash_signatures"] = _simhash_sql()
    o["simhash_near_dups"] = _simhash64_near_dups_sql()
    o["dedup_clusters"] = _dedup_clusters_sql()
    # banded random-projection LSH (16 planes, 4 bands x 4 bits) mirroring
    # dedup.embedding_near_dups; bands CTE self-joins per (band, band_key)
    emb_cte16 = _EMB_NORM_CTE.format(bucket=_sign_bucket_sql(16))
    o["embedding_near_dups"] = (
        f"WITH {emb_cte16}, "
        "bands AS (SELECT vec_id, b.band, (bucket >> (b.band * 4)) & 15 AS band_key "
        "FROM n, (SELECT unnest([0, 1, 2, 3]) AS band) b), "
        "cands AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "FROM bands a JOIN bands b ON a.band = b.band "
        "AND a.band_key = b.band_key AND a.vec_id < b.vec_id) "
        "SELECT vec_a, vec_b, "
        "floor((list_dot_product(x.v, y.v) / (x.norm * y.norm)) * 1000000 + 0.5) / 1000000 AS cosine "
        "FROM cands JOIN n x ON cands.vec_a = x.vec_id "
        "JOIN n y ON cands.vec_b = y.vec_id "
        "WHERE floor((list_dot_product(x.v, y.v) / (x.norm * y.norm)) * 1000000 + 0.5) / 1000000 >= 0.4"
    )

    # ---- similarity ----
    emb_cte8 = _EMB_NORM_CTE.format(bucket=_sign_bucket_sql(sim.ANN_PLANES))
    o["ann_topk"] = (
        f"WITH {emb_cte8}, "
        "q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < 5), "
        "scored AS (SELECT q.query_id, n.vec_id, "
        "floor((list_dot_product(q.qv, n.v) / (q.qnorm * n.norm)) * 1000000 + 0.5) / 1000000 AS cosine "
        "FROM n, q WHERE n.vec_id <> q.query_id) "
        "SELECT query_id, vec_id, cosine, rank FROM ("
        "SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank FROM scored) "
        "WHERE rank <= 10"
    )
    # IVF: corpus assigned to argmax-dot coarse cell, queries probe their
    # nprobe best cells, exact cosine inside probed cells only
    _cent_rows = ", ".join(
        f"({ci}, CAST([{', '.join(str(x) for x in cv)}] AS DOUBLE[]))"
        for ci, cv in enumerate(sim.ivf_centroids()))
    o["ann_ivf"] = (
        f"WITH {emb_cte8}, "
        f"cent(cell, cv) AS (VALUES {_cent_rows}), "
        "ad AS (SELECT vec_id, cell, list_dot_product(v, cv) AS d "
        "FROM n, cent), "
        "asg AS (SELECT vec_id, cell FROM ("
        "SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY d DESC, cell ASC) AS rn FROM ad) WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm "
        "FROM n WHERE vec_id < 5), "
        "qd AS (SELECT query_id, qv, qnorm, cell, row_number() OVER ("
        "PARTITION BY query_id ORDER BY d DESC, cell DESC) AS rn FROM ("
        "SELECT q.query_id, q.qv, q.qnorm, cent.cell, "
        "list_dot_product(q.qv, cent.cv) AS d FROM q, cent)), "
        f"probes AS (SELECT * FROM qd WHERE rn <= {sim.IVF_NPROBE}), "
        "scored AS (SELECT p.query_id, n.vec_id, "
        "floor((list_dot_product(p.qv, n.v) / (p.qnorm * n.norm)) "
        "* 1000000 + 0.5) / 1000000 AS cosine "
        "FROM probes p JOIN asg a USING (cell) "
        "JOIN n ON n.vec_id = a.vec_id WHERE n.vec_id <> p.query_id) "
        "SELECT query_id, vec_id, cosine, rank FROM ("
        "SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank FROM scored) "
        "WHERE rank <= 10"
    )
    o["semantic_dedup"] = (
        f"WITH {_EMB_NORM_CTE.format(bucket='0')}, "
        f"cent(cell, cv) AS (VALUES {_cent_rows}), "
        "ad AS (SELECT vec_id, cell, list_dot_product(v, cv) AS d "
        "FROM n, cent), "
        "asg AS (SELECT n.vec_id, n.v, n.norm, r.cell FROM n JOIN ("
        "SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() "
        "OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn "
        "FROM ad) WHERE rn = 1) r USING (vec_id)), "
        "cs AS (SELECT cell, count(*) AS c FROM asg GROUP BY cell), "
        "asg2 AS (SELECT asg.*, asg.vec_id % CAST(ceil(cs.c / "
        f"{sim.SEMDEDUP_CELL_CAP}.0) AS BIGINT) AS sub "
        "FROM asg JOIN cs USING (cell)), "
        "pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb, "
        "floor((list_dot_product(a.v, b.v) / (a.norm * b.norm)) "
        "* 1000000 + 0.5) / 1000000 AS cosine "
        "FROM asg2 a JOIN asg2 b ON a.cell = b.cell AND a.sub = b.sub "
        "AND a.vec_id < b.vec_id) "
        f"SELECT idb AS vec_id, min(ida) AS dup_of, "
        "max(cosine) AS max_cosine FROM pairs "
        f"WHERE cosine >= {sim.SEMDEDUP_T} GROUP BY idb"
    )
    o["quantize_embeddings"] = (
        "WITH v AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings), "
        "m AS (SELECT vec_id, v, "
        "list_max(list_transform(v, x -> abs(x))) AS maxabs FROM v), "
        "qq AS (SELECT vec_id, v, maxabs, "
        "list_transform(v, x -> CASE WHEN maxabs > 0 THEN "
        "floor(x * 127.0 / maxabs + 0.5) ELSE 0 END) AS q, "
        "CASE WHEN maxabs > 0 THEN maxabs / 127.0 ELSE 0 END AS scale "
        "FROM m) "
        "SELECT vec_id, "
        "floor(scale * 1000000 + 0.5) / 1000000 AS scale, "
        "array_to_string(list_transform(q, "
        "x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',') AS q_csv, "
        "floor((list_max(list_transform(range(1, len(v) + 1), "
        "i -> abs(v[i] - q[i] * scale)))) * 1000000 + 0.5) / 1000000 "
        "AS max_abs_err FROM qq"
    )
    # sketch + rerank (the committed default): Hamming-top-frac candidates
    # on the 2x32-bit sign sketch, exact cosine rerank
    sk0, sk1 = _sketch_words_sql(sim.SKETCH_BITS)
    sketch_cte = (
        f"s AS (SELECT vec_id, v, norm, {sk0} AS s0, {sk1} AS s1 FROM n), "
        "sq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm, "
        "s0 AS q0, s1 AS q1 FROM s WHERE vec_id < 5), "
        "pairs AS (SELECT sq.query_id, s.vec_id, s.v, s.norm, sq.qv, sq.qnorm, "
        "bit_count(xor(s.s0, sq.q0)) + bit_count(xor(s.s1, sq.q1)) AS ham "
        "FROM s, sq WHERE s.vec_id <> sq.query_id), "
        f"cand AS (SELECT * FROM pairs WHERE ham <= {sim.SKETCH_HAM_T}), "
        "scored AS (SELECT query_id, vec_id, "
        "floor((list_dot_product(qv, v) / (qnorm * norm)) * 1000000 + 0.5) / 1000000 AS cosine "
        "FROM cand)"
    )
    o["ann_lsh"] = (
        f"WITH {emb_cte8}, {sketch_cte} "
        "SELECT query_id, vec_id, cosine, rank FROM ("
        "SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank FROM scored) "
        "WHERE rank <= 10"
    )

    # bucketed multi-probe variant: own bucket + all Hamming<=2 flips
    probe_flips = ", ".join(
        [f"xor(bucket, {1 << i})" for i in range(sim.ANN_PLANES)]
        + [f"xor(bucket, {(1 << i) | (1 << j)})"
           for i in range(sim.ANN_PLANES)
           for j in range(i + 1, sim.ANN_PLANES)])
    o["ann_lsh_buckets"] = (
        f"WITH {emb_cte8}, "
        "q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm, "
        f"unnest([bucket, {probe_flips}]) AS bucket FROM n "
        "WHERE vec_id < 5), "
        "scored AS (SELECT q.query_id, n.vec_id, "
        "floor((list_dot_product(q.qv, n.v) / (q.qnorm * n.norm)) * 1000000 + 0.5) / 1000000 AS cosine "
        "FROM n JOIN q ON n.bucket = q.bucket WHERE n.vec_id <> q.query_id) "
        "SELECT query_id, vec_id, cosine, rank FROM ("
        "SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank FROM scored) "
        "WHERE rank <= 10"
    )

    o["ann_lsh_recall"] = (
        f"WITH {emb_cte8}, "
        "q1 AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < 5), "
        "se AS (SELECT q1.query_id, n.vec_id, "
        "floor((list_dot_product(q1.qv, n.v) / (q1.qnorm * n.norm)) * 1000000 + 0.5) / 1000000 AS cosine "
        "FROM n, q1 WHERE n.vec_id <> q1.query_id), "
        "exact AS (SELECT query_id, vec_id FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id) AS rank FROM se) WHERE rank <= 10), "
        f"{sketch_cte}, "
        "lsh AS (SELECT query_id, vec_id, 1 AS _hit FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id) AS rank FROM scored) WHERE rank <= 10) "
        "SELECT e.query_id, "
        "floor((CAST(sum(coalesce(l._hit, 0)) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS recall "
        "FROM exact e LEFT JOIN lsh l ON e.query_id = l.query_id "
        "AND e.vec_id = l.vec_id GROUP BY e.query_id"
    )

    # ---- text analysis ----
    scores_sql = ", ".join(
        f"{expr} AS s_{lang}" for lang, expr in _LANG_SCORES.items()
    )
    o["lang_id"] = (
        f"WITH {_WORDS_CTE}, s AS (SELECT doc_id, {scores_sql} FROM words) "
        f"SELECT doc_id, {_PRED_CASE} AS pred_lang, "
        f"CAST({_BEST} AS BIGINT) AS marker_hits FROM s"
    )
    o["quality_score"] = (
        f"WITH {_WORDS_CTE}, base AS (SELECT d.doc_id, d.text, w.w FROM documents d "
        "JOIN words w ON d.doc_id = w.doc_id), "
        "m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(w) AS BIGINT) AS n_words, "
        "length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct, "
        f"len(list_filter(w, x -> list_contains({_STOP_LIST}, x))) AS stop_hits "
        "FROM base) "
        "SELECT doc_id, n_chars, n_words, "
        "floor((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000 + 0.5) / 1000000 AS punct_ratio, "
        "floor((CAST(stop_hits AS DOUBLE) / greatest(n_words, 1)) * 1000000 + 0.5) / 1000000 AS stopword_ratio, "
        "floor((CAST(n_chars - (n_words - 1) AS DOUBLE) / greatest(n_words, 1)) * 1000000 + 0.5) / 1000000 AS mean_word_len, "
        "floor((least(n_words / 50.0, 1.0) * 0.4 "
        "+ (1.0 - least(floor((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000 + 0.5) / 1000000 * 5, 1.0)) * 0.3 "
        "+ least(floor((CAST(stop_hits AS DOUBLE) / greatest(n_words, 1)) * 1000000 + 0.5) / 1000000 * 5, 1.0) * 0.3"
        ") * 1000000 + 0.5) / 1000000 AS quality "
        "FROM m"
    )
    o["token_counts"] = (
        f"WITH {_WORDS_CTE} "
        "SELECT d.doc_id, CAST(len(w.w) AS BIGINT) AS ws_tokens, "
        r"CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS regex_tokens "
        "FROM documents d JOIN words w ON d.doc_id = w.doc_id"
    )
    o["fingerprint"] = (
        "SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) "
        "AS fingerprint FROM documents"
    )
    # winnowing: word 3-gram 32-bit hashes, min per 4-window, distinct —
    # the same per-doc window/order semantics as ts.winnowing_fingerprints
    o["winnowing_fingerprints"] = (
        f"WITH {_WORDS_CTE}, "
        "g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN "
        "list_transform(range(1, len(w) - 1), i -> "
        "array_to_string(w[i:i+2], ' ')) "
        "ELSE [array_to_string(w, ' ')] END AS grams FROM words), "
        "e AS (SELECT doc_id, len(grams) AS n, "
        "generate_subscripts(grams, 1) - 1 AS pos, "
        "unnest(grams) AS gram FROM g), "
        "h AS (SELECT doc_id, pos, n, "
        "('0x' || substr(md5(gram), 1, 8))::BIGINT AS h FROM e), "
        "wmin AS (SELECT doc_id, pos, n, min(h) OVER ("
        "PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM h) "
        "SELECT DISTINCT doc_id, fp FROM wmin "
        "WHERE pos <= n - 4 OR pos = 0"
    )
    o["tfidf_top_terms"] = (
        f"WITH {_WORDS_CTE}, "
        "u AS (SELECT doc_id, unnest(w) AS word FROM words), "
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM u GROUP BY doc_id, word), "
        "dfr AS (SELECT word, count(*) AS df FROM tf GROUP BY word), "
        "nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents), "
        "scored AS (SELECT tf.doc_id, tf.word, "
        "floor((tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfr.df)) * 1000000 + 0.5) / 1000000 AS tfidf "
        "FROM tf JOIN dfr ON tf.word = dfr.word CROSS JOIN nd) "
        "SELECT doc_id, word, tfidf, rank FROM ("
        "SELECT *, CAST(row_number() OVER (PARTITION BY doc_id "
        "ORDER BY tfidf DESC, word) AS BIGINT) AS rank FROM scored) "
        "WHERE rank <= 3"
    )
    o["vocab_stats"] = (
        f"WITH {_WORDS_CTE}, "
        "u AS (SELECT doc_id, unnest(w) AS word FROM words), "
        "agg AS (SELECT word, CAST(count(*) AS BIGINT) AS tf, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM u GROUP BY word) "
        "SELECT word, tf, df, rank FROM ("
        "SELECT *, CAST(row_number() OVER (ORDER BY tf DESC, word) AS BIGINT) "
        "AS rank FROM agg) WHERE rank <= 100"
    )
    # corpus_filter: the composed C4-style cleaning pass — quality + lang +
    # fingerprint-canonical dedup, first failing rule wins
    o["corpus_filter"] = (
        f"WITH {_WORDS_CTE}, "
        "base AS (SELECT d.doc_id, d.text, w.w FROM documents d "
        "JOIN words w ON d.doc_id = w.doc_id), "
        "m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(w) AS BIGINT) AS n_words, "
        "length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct, "
        f"len(list_filter(w, x -> list_contains({_STOP_LIST}, x))) AS stop_hits, "
        f"{scores_sql} FROM base), "
        "f AS (SELECT doc_id, "
        "floor((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000 + 0.5) / 1000000 AS punct_ratio, "
        "floor((least(n_words / 50.0, 1.0) * 0.4 "
        "+ (1.0 - least(floor((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000 + 0.5) / 1000000 * 5, 1.0)) * 0.3 "
        "+ least(floor((CAST(stop_hits AS DOUBLE) / greatest(n_words, 1)) * 1000000 + 0.5) / 1000000 * 5, 1.0) * 0.3"
        ") * 1000000 + 0.5) / 1000000 AS quality, "
        f"n_words, {_PRED_CASE} AS pred_lang FROM m), "
        "canon AS (SELECT doc_id, row_number() OVER (PARTITION BY "
        "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) "
        "ORDER BY doc_id) = 1 AS is_canonical FROM documents), "
        "r AS (SELECT f.doc_id, CASE "
        "WHEN NOT c.is_canonical THEN 'duplicate' "
        "WHEN f.pred_lang <> 'en' THEN 'lang' "
        "WHEN f.n_words < 8 THEN 'too_short' "
        "WHEN f.punct_ratio > 0.2 THEN 'punct' "
        "WHEN f.quality < 0.3 THEN 'low_quality' END AS reason "
        "FROM f JOIN canon c ON f.doc_id = c.doc_id) "
        "SELECT doc_id, reason IS NULL AS keep, "
        "coalesce(reason, '') AS reject_reason FROM r"
    )

    # pii_scrub: counts on ORIGINAL text per pattern, sequential scrub in
    # the fixed PII_PATTERNS order — the identical contract as the Spark op
    _scrub = "text"
    _cnt_cols = []
    for _name, _pat, _repl in ts.PII_PATTERNS:
        _cnt_cols.append(
            f"CAST(len(regexp_extract_all(text, '{_pat}')) AS BIGINT) "
            f"AS {_name}")
        _scrub = f"regexp_replace({_scrub}, '{_pat}', '{_repl}', 'g')"
    # shared per-doc feature CTE (source, pred_lang, n_words, quality) for
    # the rollup / percentile aggregates — identical arithmetic to
    # quality_score / lang_id
    feats_cte = (
        f"WITH {_WORDS_CTE}, "
        "base AS (SELECT d.doc_id, d.source, d.text, w.w FROM documents d "
        "JOIN words w ON d.doc_id = w.doc_id), "
        "m AS (SELECT doc_id, source, "
        "CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(w) AS BIGINT) AS n_words, "
        "length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct, "
        f"len(list_filter(w, x -> list_contains({_STOP_LIST}, x))) AS stop_hits, "
        f"{scores_sql} FROM base), "
        "feats AS (SELECT doc_id, source, n_words, "
        "floor((least(n_words / 50.0, 1.0) * 0.4 "
        "+ (1.0 - least(floor((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000 + 0.5) / 1000000 * 5, 1.0)) * 0.3 "
        "+ least(floor((CAST(stop_hits AS DOUBLE) / greatest(n_words, 1)) * 1000000 + 0.5) / 1000000 * 5, 1.0) * 0.3"
        ") * 1000000 + 0.5) / 1000000 AS quality, "
        f"{_PRED_CASE} AS pred_lang FROM m)"
    )
    # repetition_stats: independent unnest+GROUP BY mirror of the Spark
    # sort+fold formulation (two implementations, one contract)
    o["repetition_stats"] = (
        "WITH base AS (SELECT doc_id, length(text) AS nch, "
        "list_filter(string_split_regex(trim(text), ' +'), x -> x <> '') "
        "AS ws FROM documents), "
        "b2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), "
        "i -> ws[i] || ' ' || ws[i+1])) AS g FROM base WHERE len(ws) >= 2), "
        "c2 AS (SELECT doc_id, g, count(*) AS c FROM b2 GROUP BY 1, 2), "
        "t2 AS (SELECT doc_id, max(c * length(g)) AS cover "
        "FROM c2 GROUP BY 1), "
        "b5 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3), "
        "i -> array_to_string(ws[i:i+4], ' '))) AS g "
        "FROM base WHERE len(ws) >= 5), "
        "c5 AS (SELECT doc_id, g, count(*) AS c FROM b5 GROUP BY 1, 2), "
        "d5 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c * length(g) "
        "ELSE 0 END) AS dupch FROM c5 GROUP BY 1) "
        "SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_words, "
        "floor((CASE WHEN len(b.ws) > 0 THEN 1.0 - "
        "CAST(len(list_distinct(b.ws)) AS DOUBLE) / len(b.ws) "
        "ELSE 0 END) * 1000000 + 0.5) / 1000000 AS dup_word_frac, "
        "floor((CASE WHEN b.nch > 0 THEN "
        "CAST(coalesce(t2.cover, 0) AS DOUBLE) / b.nch ELSE 0 END) "
        "* 1000000 + 0.5) / 1000000 AS top2_cover_frac, "
        "floor((least(1.0, CASE WHEN b.nch > 0 THEN "
        "CAST(coalesce(d5.dupch, 0) AS DOUBLE) / b.nch ELSE 0 END)) "
        "* 1000000 + 0.5) / 1000000 AS dup5_cover_frac "
        "FROM base b LEFT JOIN t2 USING (doc_id) "
        "LEFT JOIN d5 USING (doc_id)"
    )
    o["decontaminate"] = (
        "WITH w AS (SELECT doc_id, "
        "list_filter(string_split_regex(trim(text), ' +'), x -> x <> '') "
        "AS ws FROM documents), "
        "ok AS (SELECT * FROM w WHERE len(ws) >= 8), "
        "g AS (SELECT DISTINCT doc_id, "
        "md5(array_to_string(ws[i:i+7], ' ')) AS sh FROM "
        "(SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i FROM ok)), "
        "e AS (SELECT DISTINCT sh FROM g WHERE doc_id % 20 = 3), "
        "t AS (SELECT doc_id, sh FROM g WHERE doc_id % 20 <> 3) "
        "SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_eval_grams "
        "FROM t JOIN e USING (sh) GROUP BY 1"
    )
    o["doc_stats_rollup"] = (
        f"{feats_cte} "
        "SELECT source, pred_lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "floor((avg(quality)) * 1000000 + 0.5) / 1000000 AS avg_quality, "
        "CAST(GROUPING(source, pred_lang) AS BIGINT) AS gid "
        "FROM feats GROUP BY ROLLUP (source, pred_lang)"
    )
    _pct_cols = ", ".join(
        f"floor((quantile_cont({col}, {p})) * 1000000 + 0.5) / 1000000 "
        f"AS {col2}_{tag}"
        for tag, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
        for col, col2 in (("n_words", "words"), ("quality", "quality"))
    )
    o["quality_percentiles"] = (
        f"{feats_cte} SELECT source, {_pct_cols} FROM feats GROUP BY source"
    )

    o["chunk_documents"] = (
        "WITH w AS (SELECT doc_id, "
        "list_filter(string_split_regex(trim(text), ' +'), x -> x <> '') "
        "AS ws FROM documents), "
        "s AS (SELECT doc_id, ws, unnest(range(0, len(ws), 56)) AS st "
        "FROM w WHERE len(ws) > 0) "
        "SELECT doc_id, CAST(st / 56 AS BIGINT) AS chunk_id, "
        "CAST(len(ws[st + 1:st + 64]) AS BIGINT) AS n_words, "
        "array_to_string(ws[st + 1:st + 64], ' ') AS chunk_text FROM s"
    )
    o["pack_sequences"] = (
        "WITH w AS (SELECT doc_id, len(list_filter(string_split_regex("
        "trim(text), ' +'), x -> x <> '')) AS n FROM documents), "
        "ok AS (SELECT * FROM w WHERE n > 0), "
        "c AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start "
        "FROM ok), "
        "ex AS (SELECT doc_id, n, start, unnest(range("
        "CAST(floor(start / 128.0) AS BIGINT), "
        "CAST(floor((start + n - 1) / 128.0) AS BIGINT) + 1)) AS seq_id "
        "FROM c) "
        # CAST every start-derived column to BIGINT: the windowed sum(n) is
        # HUGEINT in DuckDB and fetchdf() materializes HUGEINT arithmetic as
        # float64 (1.0 vs Spark's int64 1) -> driver hash red (VERDICT r5 #1).
        "SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id, "
        "CAST(greatest(seq_id * 128 - start, 0) + 1 AS BIGINT) AS word_from, "
        "CAST(least((seq_id + 1) * 128 - start, n) AS BIGINT) AS word_to "
        "FROM ex"
    )
    o["lm_score"] = (
        "WITH t AS (SELECT doc_id, text FROM documents "
        "WHERE length(text) >= 3), "
        "g AS (SELECT doc_id, unnest(list_transform("
        "range(1, length(text) - 1), i -> substr(text, i, 3))) AS tri "
        "FROM t), "
        "model AS (SELECT tri, count(*) AS c FROM g GROUP BY tri), "
        "tot AS (SELECT sum(c) AS total FROM model) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri, "
        "floor((avg(ln(CAST(total AS DOUBLE) / c))) * 1000000 + 0.5) "
        "/ 1000000 AS lm_nll "
        "FROM g JOIN model USING (tri) CROSS JOIN tot GROUP BY doc_id"
    )
    o["stratified_sample"] = (
        "SELECT doc_id, source, "
        "(('0x' || substr(md5(source || ':' || doc_id), 1, 8))::BIGINT "
        "% 1000) AS bucket, "
        r"CAST(((coalesce(TRY_CAST(regexp_extract(source, '(\d+)', 1) AS INT), 0) % 4) + 1) "
        "* 250 AS BIGINT) AS quota_permille, "
        "(('0x' || substr(md5(source || ':' || doc_id), 1, 8))::BIGINT "
        r"% 1000) < ((coalesce(TRY_CAST(regexp_extract(source, '(\d+)', 1) AS INT), 0) % 4) "
        "+ 1) * 250 AS keep FROM documents"
    )
    o["url_dedup"] = (
        "WITH d AS (SELECT doc_id, "
        r"CASE WHEN regexp_extract(text, 'https?://([^/\s?#]+)', 1) <> '' "
        r"THEN lower(regexp_extract(text, 'https?://([^/\s?#]+)', 1)) "
        r"|| regexp_extract(text, 'https?://[^/\s?#]+(/[^\s?#]*)', 1) "
        f"END AS canon_url FROM '{ORACLE_FX}/raw_web_documents.parquet'), "
        "k AS (SELECT doc_id, canon_url, row_number() OVER ("
        "PARTITION BY coalesce(canon_url, chr(0) || 'doc:' || doc_id) "
        "ORDER BY doc_id) AS rn FROM d) "
        "SELECT doc_id, canon_url, rn = 1 AS keep FROM k"
    )
    o["domain_stats"] = (
        "WITH h AS (SELECT doc_id, lower(unnest(regexp_extract_all("
        r"text, 'https?://([^/\s]+)', 1))) AS domain "
        f"FROM '{ORACLE_FX}/raw_web_documents.parquet') "
        "SELECT domain, CAST(count(*) AS BIGINT) AS n_refs, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs "
        "FROM h GROUP BY domain"
    )
    o["pii_scrub"] = (
        f"SELECT doc_id, {_scrub} AS clean_text, {', '.join(_cnt_cols)} "
        f"FROM '{ORACLE_FX}/raw_web_documents.parquet'"
    )

    # formula_artifacts: the render spec is closed-form in the formula
    # text (width = 8 + 6*len(inner), height = 20, ink = 72*n_nonspace at
    # intensity 40), so DuckDB recomputes every artifact's metadata; the
    # error fallback (empty inner / unbalanced braces) is the 64x64
    # placeholder with mean 128*62^2/64^2/255
    o["formula_artifacts"] = (
        # delimiter strip mirrors textnorm.DELIMITER_PAIRS exactly —
        # $$..$$, $..$, \[..\], \(..\) in that order (ADVICE r3: the two
        # backslash forms were previously missing here, so a future
        # render_request using them would silently diverge). DuckDB LIKE
        # has no default escape char, so '\[' is two literal characters.
        "WITH r AS (SELECT doc_id, \"offset\", CASE "
        "WHEN t LIKE '$$%$$' AND length(t) >= 4 "
        "THEN substring(t, 3, length(t) - 4) "
        "WHEN t LIKE '$%$' AND length(t) >= 2 "
        "THEN substring(t, 2, length(t) - 2) "
        "WHEN (t LIKE '\\[%\\]' OR t LIKE '\\(%\\)') AND length(t) >= 4 "
        "THEN substring(t, 3, length(t) - 4) "
        "ELSE t END AS fx_in FROM (SELECT doc_id, \"offset\", "
        f"trim(formula) AS t FROM '{ORACLE_FX}/render_requests.parquet')), "
        "m AS (SELECT doc_id, \"offset\", fx_in, "
        "(trim(fx_in) = '' OR "
        "length(fx_in) - length(replace(fx_in, '{', '')) <> "
        "length(fx_in) - length(replace(fx_in, '}', ''))) AS bad, "
        "length(fx_in) AS n, "
        "length(replace(fx_in, ' ', '')) AS nonspace FROM r) "
        "SELECT doc_id, \"offset\", "
        "'formula_' || doc_id || '_' || \"offset\" || '.png' AS media_ref, "
        "CASE WHEN bad THEN 64 ELSE 8 + 6 * n END AS width, "
        "CASE WHEN bad THEN 64 ELSE 20 END AS height, "
        "CASE WHEN bad THEN floor(128.0 * 62 * 62 / (64 * 64) / 255.0 "
        "* 1000000 + 0.5) / 1000000 "
        "ELSE floor(((255.0 * ((8 + 6 * n) * 20 - 72 * nonspace) "
        "+ 40.0 * 72 * nonspace) / ((8 + 6 * n) * 20 * 255.0)) "
        "* 1000000 + 0.5) / 1000000 END AS mean_intensity, "
        "CASE WHEN bad THEN 'render_error' ELSE 'ok' END AS status FROM m"
    )

    # duplicate_ngram_pairs: word-8-gram shingles, df in [2, 20], pairs
    # sharing >= 3 rare shingles (Lee et al. exact-substring dedup shape)
    o["duplicate_ngram_pairs"] = (
        "WITH w AS (SELECT doc_id, "
        "list_filter(string_split_regex(trim(text), ' +'), x -> x <> '') AS ws "
        "FROM documents), "
        "ok AS (SELECT * FROM w WHERE len(ws) >= 8), "
        "g AS (SELECT DISTINCT doc_id, "
        "md5(array_to_string(ws[i:i+7], ' ')) AS sh FROM "
        "(SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i FROM ok)), "
        "rare AS (SELECT sh FROM g GROUP BY sh "
        "HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20), "
        "gr AS (SELECT g.* FROM g JOIN rare USING (sh)) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(count(*) AS BIGINT) AS n_shared "
        "FROM gr a JOIN gr b USING (sh) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2 HAVING count(*) >= 3"
    )

    # ---- relational / events ----
    o["tpch_q1"] = (
        "SELECT l_returnflag, l_linestatus, "
        "floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty, "
        "floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price, "
        "floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price, "
        "floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS avg_qty, "
        "floor((avg(l_discount)) * 1000000 + 0.5) / 1000000 AS avg_disc, "
        "CAST(count(*) AS BIGINT) AS count_order "
        "FROM lineitem WHERE epoch(l_shipdate) <= 904694400 "
        "GROUP BY l_returnflag, l_linestatus"
    )
    o["tpch_q6"] = (
        "SELECT floor((sum(l_extendedprice * l_discount)) * 100 + 0.5) / 100 AS revenue, "
        "CAST(count(*) AS BIGINT) AS n FROM lineitem "
        "WHERE epoch(l_shipdate) >= 788918400 AND epoch(l_shipdate) < 820454400 "
        "AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24"
    )
    o["tpch_q3"] = (
        "SELECT l_orderkey, floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' AND epoch(o_orderdate) < 794016000 "
        "AND epoch(l_shipdate) > 794016000 "
        "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"
    )
    o["revenue_by_region"] = (
        "SELECT r_name, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue, "
        "CAST(count(*) AS BIGINT) AS n_orders "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name"
    )
    o["top_events_per_user"] = (
        "SELECT user_id, event_id, value, rn FROM ("
        "SELECT user_id, event_id, value, CAST(row_number() OVER "
        "(PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rn "
        "FROM events) WHERE rn <= 3"
    )
    o["sessionize_events"] = (
        "WITH marked AS (SELECT user_id, event_id, ts, value, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "s AS (SELECT user_id, ts, value, CAST(sum(new_session) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no "
        "FROM marked) "
        "SELECT user_id, session_no, CAST(count(*) AS BIGINT) AS n_events, "
        "epoch_us(min(ts)) AS start_epoch, "
        "epoch_us(max(ts)) AS end_epoch, "
        "floor((sum(value)) * 1000000 + 0.5) / 1000000 AS session_value "
        "FROM s GROUP BY user_id, session_no"
    )
    o["event_props_extract"] = (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) "
        "AS prop_k FROM events"
    )
    o["windowed_counts"] = (
        "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_epoch, "
        "event_type, CAST(count(*) AS BIGINT) AS n, "
        "floor((sum(value)) * 100 + 0.5) / 100 AS total_value "
        "FROM events GROUP BY 1, 2"
    )
    return o


def _minhash_shingles_only() -> str:
    return f"WITH {_SHINGLES_CTE} SELECT doc_id, shingles FROM sh"
