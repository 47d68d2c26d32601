"""Physical-plan audits — pin the properties that matter at 100 TB
(SURVEY.md §4): predicate pushdown, column pruning, broadcast joins,
no cartesian products, AQE on."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry
from pdf_parse_bench_spark.operators import dedup as dd
from pdf_parse_bench_spark.operators import similarity as sim
from pdf_parse_bench_spark.operators import textstats as ts
from pdf_parse_bench_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_read_schema_only,
    formatted_plan,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_pushdown_on_golden_scan(spark, fx_smoke):
    df = (
        spark.read.parquet(str(fx_smoke / "golden_spans.parquet"))
        .where(F.col("kind") == "image")
        .select("doc_id", "media_ref")
    )
    plan = formatted_plan(df)
    assert "PushedFilters:" in plan and "EqualTo(kind,image)" in plan


def test_column_pruning_token_counts(spark):
    out = ts.token_counts(_docs(spark))
    assert_read_schema_only(out, {"doc_id", "text"})


def test_column_pruning_fingerprint(spark):
    assert_read_schema_only(ts.fingerprint(_docs(spark)), {"doc_id", "text"})


def test_ann_uses_broadcast(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = sim.brute_force_topk(emb)
    assert_broadcast_join(out)
    assert_no_cartesian(out)


def test_revenue_join_broadcasts_dims(spark):
    q = entry.queries()["revenue_by_region"]
    out = q(spark, SF)
    assert_broadcast_join(out)
    assert_no_cartesian(out)


def test_lsh_join_no_cartesian_and_reuses_exchange(spark):
    out = dd.lsh_candidate_pairs(_docs(spark).limit(50))
    assert_no_cartesian(out)
    # the band self-join must reuse one shuffle of the identical minhash
    # plan instead of persisting it (no executor-memory pinning)
    out.collect()  # AQE finalizes reuse at execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_ann_lsh_multiprobe_bucket_bounded(spark):
    """The multi-probe ANN join must be an equi-join on bucket (never
    cartesian), and each probe may reach only a small fraction of the
    corpus: probes/buckets = (P+1)/2^P."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = sim.lsh_topk(emb)
    assert_no_cartesian(out)
    plan = formatted_plan(out)
    assert "bucket" in plan
    frac = (sim.ANN_PLANES + 1) / (1 << sim.ANN_PLANES)
    assert frac <= 0.05, frac  # each query scans <= 5% of the corpus


def test_ann_topk_two_phase_no_full_corpus_query_window(spark):
    """VERDICT r3 item 1: none of the three ANN top-k's may sort the whole
    scored corpus in one task per query. Every ranking must be two-phase —
    a partial top-k keyed on (query_id, spark_partition_id()) so the big
    sort shuffles on a well-spread composite key, then a final window over
    <= k*P survivors — and sketch_topk's candidate cut must be a static
    `ham <= T` predicate (codegen filter / join condition), never the old
    count-over-window quantile funnel."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for name, df in (
        ("brute", sim.brute_force_topk(emb)),
        ("sketch", sim.sketch_topk(emb)),
        ("bucket", sim.lsh_topk(emb, probe_radius=2)),
        ("ivf", sim.ivf_topk(emb)),
    ):
        plan = formatted_plan(df)
        # phase-1 window key includes the partition id
        assert "_pid" in plan, (name, plan)
        # the r3 funnel: count(*) OVER (PARTITION BY query_id) — dead
        assert "count(1) windowspecdefinition" not in plan, name
        # rank-limit pushdown bounds both window sorts map-side
        assert "WindowGroupLimit" in plan, (name, plan)
    sketch_plan = formatted_plan(sim.sketch_topk(emb))
    assert f"<= {sim.SKETCH_HAM_T})" in sketch_plan, sketch_plan


def test_embedding_near_dups_banded_no_cartesian(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = dd.embedding_near_dups(emb)
    assert_no_cartesian(out)
    # banded blocking: join keys are (band, band_key), never the full table
    plan = formatted_plan(out)
    assert "band_key" in plan


def test_bucketed_join_is_shuffle_free(spark, fx_smoke, tmp_path):
    """Both sides written bucketed on doc_id → the join must plan with NO
    Exchange (the storage-partitioned join the Iceberg layout gives the
    full pipeline at cluster scale)."""
    from pdf_parse_bench_spark.sources.bucketed import (
        read_bucketed, write_bucketed)
    spans = spark.read.parquet(str(fx_smoke / "golden_spans.parquet")).limit(500)
    md = spark.read.parquet(str(fx_smoke / "parsed_markdown.parquet")).limit(200)
    write_bucketed(spans, "t_spans_b", path=str(tmp_path / "spans_b"))
    write_bucketed(md, "t_md_b", path=str(tmp_path / "md_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "t_spans_b").join(
            read_bucketed(spark, "t_md_b"), "doc_id")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # groupBy on the bucket key is exchange-free too
        agg_plan = formatted_plan(
            read_bucketed(spark, "t_spans_b").groupBy("doc_id").count())
        assert "Exchange" not in agg_plan, agg_plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_spans_b")
        spark.sql("DROP TABLE IF EXISTS t_md_b")


def test_partitioned_layout_prunes_at_plan_time(spark, tmp_path):
    """A filter on the partition column must appear as PartitionFilters on
    the scan (directory pruning), and the pruned scan must read fewer files
    than the full table."""
    from pdf_parse_bench_spark.sources.bucketed import write_partitioned
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "docs_by_source")
    write_partitioned(docs, out, partition_col="source")
    one_source = docs.select("source").first().source
    pruned = (spark.read.parquet(out)
              .where(F.col("source") == one_source))
    plan = formatted_plan(pruned)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "source" in m[0], plan
    assert pruned.count() == docs.where(F.col("source") == one_source).count()


def test_vocab_stats_topk_not_single_partition_sort(spark):
    """vocab_stats' global top-k must plan as TakeOrderedAndProject
    (map-side partial top-k, k rows merged) — not a single-partition sort
    of the entire 10^8-row vocabulary through one task."""
    out = ts.vocab_stats(_docs(spark), k=10)
    plan = formatted_plan(out)
    assert "TakeOrderedAndProject" in plan, plan


def test_tfidf_word_join_not_forced_broadcast(spark):
    """tfidf's (doc,word)xdf join must NOT force-broadcast the full
    per-word document-frequency table (10^8-10^9 rows at 100 TB). With
    autoBroadcast disabled the planner must fall back to a shuffle join on
    `word` — an F.broadcast hint would survive threshold=-1, so this
    distinguishes cost-based (fine: at 100 TB the estimate exceeds any
    threshold) from forced. The tiny corpus count stays hint-broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = ts.tfidf_top_terms(_docs(spark))
        plan = formatted_plan(out)
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unicode_normalization_single_pass(spark, fx_smoke):
    """ADVICE r3 follow-through, resolved architecturally in r4: the
    400-entry table must NOT appear as 400 nested replace() calls (that
    depth overflowed the driver-side expression converter and risks
    Janino's 64KB method limit — depth grew with table size). Pin the
    wide shape: one constant-folded literal map + a single
    split→lookup→join pass, with only the 7 combining-accent regexes as
    a chain. Table growth must never add expression depth."""
    from pdf_parse_bench_spark.functions import preprocess_unicode_expr
    from pdf_parse_bench_spark.kernels.textnorm import COMBINING_LATEX

    df = (
        spark.read.parquet(str(fx_smoke / "golden_spans.parquet"))
        .where(F.col("kind") == "inline-formula")
        .select(preprocess_unicode_expr("text").alias("latex"))
    )
    assert df.count() > 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "transform(" in plan and "array_join(" in plan
    assert plan.count("regexp_replace") == len(COMBINING_LATEX)
    assert " replace(" not in plan  # no per-entry chain anywhere
    # the map literal was constant-folded (appears as a folded literal,
    # not as a create_map call re-evaluated per row)
    assert "map(keys:" in plan and "create_map" not in plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "offset", "kind", "text", "media_ref"
    ]


def test_iceberg_layer_gated(spark, fx_smoke, tmp_path):
    """Iceberg jar absent here: the layer must degrade to parquet with the
    identical call sites (on a cluster the same code hits the catalog)."""
    from pdf_parse_bench_spark.sources import iceberg as ice
    if ice.iceberg_available(spark):
        import pytest
        pytest.skip("iceberg present; parquet-fallback branch not exercised")
    assert "bucket(256, doc_id)" in ice.documents_ddl()
    spans = spark.read.parquet(str(fx_smoke / "golden_spans.parquet")).limit(100)
    target = str(tmp_path / "spans_tbl")
    ice.write_spans(spans, target)
    back = ice.read_table(spark, target)
    assert back.count() == 100


def test_skew_rebalance_isolates_big_docs(spark, fx_smoke):
    """Size-quantile rebalancing: >p99 docs land in the dedicated partition
    band, never sharing a task with the bulk of small docs."""
    from pyspark.sql import functions as F
    from pdf_parse_bench_spark.operators.skew import rebalance_by_size
    md = spark.read.parquet(str(fx_smoke / "parsed_markdown.parquet"))
    thr = md.select(F.length("markdown").alias("l")).stat.approxQuantile("l", [0.99], 0.01)[0]
    out = rebalance_by_size(md, size_col=F.length("markdown"))
    parts = out.select(
        F.spark_partition_id().alias("pid"),
        (F.length("markdown") > thr).alias("big"),
    )
    mixed = (
        parts.groupBy("pid")
        .agg(F.sum(F.col("big").cast("int")).alias("n_big"),
             F.count("*").alias("n"))
        .where((F.col("n_big") > 0) & (F.col("n") > F.col("n_big")))
    )
    assert mixed.isEmpty(), mixed.collect()


def test_duplicate_ngram_pairs_df_filter_before_selfjoin(spark):
    """The exact-substring self-join must (a) never be cartesian and
    (b) key on the shingle hash with the document-frequency filter BELOW
    the join (boilerplate shingles can never reach the pair space)."""
    from pdf_parse_bench_spark.operators import dedup as dd
    out = dd.duplicate_ngram_pairs(_docs(spark))
    assert_no_cartesian(out)
    plan = formatted_plan(out)
    assert "sh" in plan
    out.collect()  # AQE finalizes exchange reuse
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_repetition_stats_zero_shuffle(spark):
    """The sort+fold formulation must stay a single narrow projection:
    no Exchange anywhere (the exploded groupBy(doc, gram) alternative
    would shuffle every gram of a 100 TB corpus twice)."""
    out = ts.repetition_stats(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert_read_schema_only(out, {"doc_id", "text"})


def test_decontaminate_broadcasts_eval_side_only(spark):
    """The corpus side must reach the shingle join map-side: the only
    hash Exchanges allowed are inside the (tiny) eval branch before the
    BroadcastExchange and the final per-doc count."""
    out = ts.decontaminate(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert_no_cartesian(out)


def test_chunk_documents_zero_shuffle(spark):
    out = ts.chunk_documents(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert_read_schema_only(out, {"doc_id", "text"})


def test_lm_score_model_join_not_forced_broadcast(spark):
    """Like tfidf: the trigram model table (10^9 distinct keys at
    100 TB) must not be force-broadcast; only the 1-row total is."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = ts.lm_score(_docs(spark))
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the model joins on `tri` via shuffle; only the 1-row total is
        # broadcast (as a nested-loop build side, not a hash relation)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert plan.count("BroadcastExchange") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_cell_partition_layout_prunes_probes(spark, tmp_path):
    """The ANN/SemDeDup at-rest story made concrete: embeddings written
    partitioned by their IVF cell, a probe filter on nprobe cells must
    plan with PartitionFilters (directory pruning) and read only the
    probed fraction of rows."""
    from pdf_parse_bench_spark.sources.bucketed import write_partitioned

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = sim.ivf_centroids()
    best = F.greatest(*[
        F.struct(sim._dot_lit(F.col("v"), cv).alias("d"),
                 F.lit(-ci).alias("negc"))
        for ci, cv in enumerate(cents)])
    assigned = (sim._with_norm(emb)
                .withColumn("cell", (-best.getField("negc")).cast("int"))
                .select("vec_id", "cell"))
    out = str(tmp_path / "emb_by_cell")
    write_partitioned(assigned, out, partition_col="cell")
    probes = [0, 3, 7, 11]
    pruned = spark.read.parquet(out).where(F.col("cell").isin(probes))
    plan = formatted_plan(pruned)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "cell" in m[0], plan
    total = spark.read.parquet(out).count()
    probed = pruned.count()
    assert 0 < probed < total
    # probed fraction tracks nprobe/cells on the balanced assignment
    assert probed / total < 2 * len(probes) / sim.IVF_CELLS


def test_pack_sequences_two_phase_prefix_sum(spark):
    """The corpus-wide prefix sum must be the two-phase distributed
    scan keyed on the DETERMINISTIC range bucket (never the physical
    spark_partition_id): the per-doc window is keyed on _bucket
    (spreads), and the only global-order window runs over the B
    bucket-total rows (metadata scale)."""
    out = ts.pack_sequences(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_bucket" in plan
    assert "spark_partition_id" not in plan.lower()
    # exactly one unpartitioned window (the B-row offsets scan)
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    unpartitioned = [s for s in specs if "_bucket" not in s]
    assert len(set(unpartitioned)) <= 1, unpartitioned


def test_pack_sequences_deterministic_across_configs(spark):
    """Bit-identical manifest regardless of bucketing or shuffle
    partition count — the round-4 driver flake was a
    spark_partition_id() key diverging between two consumers of one
    exchange; the deterministic _bucket column must make the output a
    pure function of the data."""
    docs = _docs(spark)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = sorted(map(tuple, ts.pack_sequences(docs, buckets=3)
                       .collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        b = sorted(map(tuple, ts.pack_sequences(docs, buckets=17)
                       .collect()))
        c = sorted(map(tuple, ts.pack_sequences(docs, buckets=1)
                       .collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b == c and len(a) > 0


def test_pdf_image_stats_plan_shape(spark, fx_smoke):
    """pdf_image_stats reads only (doc_id, pdf_bytes), goes through ONE
    size-rebalance exchange, and executes as a single MapInPandas — the
    same pruned-scan -> rebalance -> Arrow-batch shape as the other PDF
    fan-outs (per-image decode happens inside the worker, cached per
    object number)."""
    from pdf_parse_bench_spark.operators.extract import pdf_image_stats_op

    pdf = spark.read.parquet(str(fx_smoke / "pdf_docs.parquet"))
    out = pdf_image_stats_op(pdf)
    assert_read_schema_only(out, {"doc_id", "pdf_bytes"})
    tree = formatted_plan(out).split("\n\n")[0]  # the plan tree section
    assert tree.count("MapInPandas") == 1, tree
    assert tree.count("Exchange") == 1, tree  # size rebalance, nothing else


def test_embedding_near_dups_kernel_no_join(spark):
    """r7 pin: the pair stage is a grouped kernel, not a self-join — the
    plan must contain a FlatMapGroupsInPandas and ZERO join operators
    (the r6 shape evaluated an interpreted cosine fold per candidate
    pair inside three joins)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = formatted_plan(dd.embedding_near_dups(emb))
    assert "FlatMapGroupsInPandas" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op


def test_pending_scores_one_aggregation_no_join(spark, fx_smoke):
    """r7 pin: pending_scores collapses distinct+distinct+left_anti over
    the same table into ONE map-side-partial aggregation — no join, a
    single exchange."""
    from pdf_parse_bench_spark.operators import aggregates as agg

    import re

    scores = spark.read.parquet(str(fx_smoke / "extraction_scores.parquet"))
    plan = formatted_plan(agg.pending_scores(scores))
    assert "Join" not in plan, plan
    # one physical Exchange (formatted plans repeat each operator as a
    # numbered detail block — count those headers, not raw substrings)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_simhash_near_dups_single_self_join(spark):
    """r7 pin: band rows carry the signature blocks, so the plan has ONE
    self-join (reused exchange) and no follow-up signature joins; the
    survivors-only distinct sits ABOVE the Hamming filter."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the self-join shape (identical band
        # subtrees -> one reused shuffle) is what gets pinned
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = dd.simhash_near_dups(_docs(spark))
        plan = formatted_plan(out)
        n_joins = len(re.findall(
            r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            plan))
        assert n_joins == 1, plan
        out.collect()  # AQE finalizes exchange reuse
        executed = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in executed, executed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unset_options_stay_constants():
    """Values the parity oracles fix are module constants, not options a
    caller could set and silently diverge from the oracle with."""
    import inspect

    from pdf_parse_bench_spark import functions, streaming
    from pdf_parse_bench_spark.kernels import alignment, png
    from pdf_parse_bench_spark.operators import text
    from pdf_parse_bench_spark.sources import bucketed

    removed = {
        dd.minhash_signatures: {"k"},
        dd._minhash_band_rows: {"k"},
        dd._doc_shingle_ab: {"n"},
        dd.simhash_signatures: {"bits"},
        dd.dedup_clusters: {"threshold", "max_iter"},
        dd.simhash_near_dups: {"max_hamming"},
        dd.embedding_near_dups: {"n_planes", "band_rows"},
        dd.duplicate_ngram_pairs: {"n", "max_df", "min_shared"},
        sim.hyperplanes: {"dim", "seed"},
        sim.ivf_centroids: {"cells", "dim", "seed"},
        sim.train_ivf_centroids: {"cells", "iters", "seed"},
        sim.sketch_topk: {"bits", "ham_threshold"},
        sim.lsh_topk: {"n_planes"},
        sim.ivf_topk: {"cells", "nprobe"},
        sim.semantic_dedup: {"cells", "threshold", "centroids"},
        sim._as_double: {"col"},
        sim._with_norm: {"out"},
        ts.corpus_filter: {"min_words", "max_punct_ratio", "min_quality",
                           "lang"},
        ts.tfidf_top_terms: {"k"},
        ts.winnowing_fingerprints: {"k", "w"},
        ts._quality_exprs: {"w"},
        ts.pack_sequences: {"seq_len"},
        text.word_array: {"col"},
        functions.table_complexity_expr: {"kind_col", "text_col"},
        alignment.find_original_segment: {"edit_distance_ratio",
                                          "search_radius", "bonus_fn"},
        png.encode_png: {"filter_mode"},
        bucketed.write_bucketed: {"key"},
        streaming.stream_dedup: {"watermark"},
        streaming.sessionize: {"gap_minutes"},
        entry._dedup_clusters_sql: {"threshold"},
    }
    assert sum(map(len, removed.values())) == 50  # 49 options + the oracle's
    for fn, names in removed.items():
        params = set(inspect.signature(fn).parameters)
        assert not params & names, (fn.__qualname__, params & names)


def test_kernel_stages_one_wave_no_eager_job(spark, fx_smoke):
    """Building a markdown or PDF extraction starts no Spark job (no eager
    size sample), and its kernel stage runs in one wave: at most
    defaultParallelism Python tasks."""
    from pdf_parse_bench_spark.operators.extract import (
        extract_spans,
        parse_pdfs,
        pdf_spans,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    md = spark.read.parquet(str(fx_smoke / "parsed_markdown.parquet"))
    pdfs = spark.read.parquet(str(fx_smoke / "pdf_docs.parquet"))
    builds = {
        "extract_spans": lambda: extract_spans(md, boilerplate=frozenset()),
        "pdf_spans": lambda: pdf_spans(pdfs),
        "parse_pdfs": lambda: parse_pdfs(pdfs),
    }
    for name, build in builds.items():
        before = set(tracker.getJobIdsForGroup(None))
        out = build()
        built = set(tracker.getJobIdsForGroup(None)) - before
        assert not built, (name, "jobs while building", sorted(built))
        out.write.format("noop").mode("overwrite").save()
        ran = set(tracker.getJobIdsForGroup(None)) - before
        tasks = [tracker.getStageInfo(s).numTasks
                 for j in ran for s in tracker.getJobInfo(j).stageIds
                 if tracker.getStageInfo(s) is not None]
        assert tasks and max(tasks) <= sc.defaultParallelism, (name, tasks)


def test_kernel_op_sizes_its_input(spark, fx_smoke):
    """kernel_op owns the one-wave rule: it spreads a raw scan to the
    rule's n tasks without running a job, and leaves an input that is
    already shuffled (groupBy, repartition) or streaming alone."""
    from pdf_parse_bench_spark.operators.extract import (
        extract_spans,
        extract_spans_from_layout,
    )
    from pdf_parse_bench_spark.operators.media import decode_media
    from pdf_parse_bench_spark.operators.resume import extract_with_lineage
    from pdf_parse_bench_spark.operators.skew import TASK_BYTES

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_and_tasks(build):
        before = set(tracker.getJobIdsForGroup(None))
        out = build()
        built = set(tracker.getJobIdsForGroup(None)) - before
        out.write.format("noop").mode("overwrite").save()
        ran = set(tracker.getJobIdsForGroup(None)) - before
        tasks = [tracker.getStageInfo(s).numTasks
                 for j in ran for s in tracker.getJobInfo(j).stageIds
                 if tracker.getStageInfo(s) is not None]
        return out, built, tasks

    def read(name):
        return spark.read.parquet(str(fx_smoke / f"{name}.parquet"))

    def exchanges(df):
        return (df._jdf.queryExecution().executedPlan().toString()
                .count("Exchange "))

    media = read("media_files")  # reading a parquet schema runs a job
    _, built, _ = jobs_and_tasks(lambda: decode_media(media))
    assert not built, ("decode_media jobs while building", sorted(built))

    md = read("parsed_markdown")
    est = int(md.select("doc_id", "markdown")._jdf.queryExecution()
              .optimizedPlan().stats().sizeInBytes())
    n = min(sc.defaultParallelism, -(-est // TASK_BYTES))
    assert n > 1
    _, built, tasks = jobs_and_tasks(
        lambda: extract_with_lineage(md, frozenset()))
    assert not built and max(tasks) == n, (n, tasks)

    layout = extract_spans_from_layout(read("layout_blocks"))
    assert exchanges(layout) == 1  # the groupBy's own

    out, built, tasks = jobs_and_tasks(
        lambda: extract_spans(md.repartition(17), boilerplate=frozenset()))
    assert not built and max(tasks) == 17, tasks
    assert exchanges(out) == 1

    stream = (spark.readStream.schema(md.schema)
              .parquet(str(fx_smoke / "parsed_markdown.parquet")))
    assert extract_spans(stream, boilerplate=frozenset()).isStreaming
