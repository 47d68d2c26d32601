"""Text-analysis operators over the `documents` table — language ID,
quality scoring, token counting, fingerprinting. Pure built-in column
expressions (whole-stage codegen; every one of these runs inside the
parquet scan projection at 100 TB — check `.explain` for PushedFilters /
ReadSchema staying at exactly the used columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from pdf_parse_bench_spark.functions import round_half_up
from pdf_parse_bench_spark.operators.kernel import kernel_op
from pdf_parse_bench_spark.operators.skew import spread_for_kernel
from pdf_parse_bench_spark.operators.text import (
    doc_words,
    ngram_digests,
    word_array,
    word_grams,
)

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "les"),
    "zh": ("zh0", "zh1", "zh2"),  # synthetic corpus has latinized tokens
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")

# BPE-ish token regex: runs of letters, runs of digits, or single punctuation
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _lang_pred_expr():
    """(pred_lang, marker_hits) expressions over the text column."""
    w = word_array()

    def _count(marker: str):
        # NB: the filter lambda must take exactly one arg — a second arg
        # would be interpreted by Spark as the element index.
        return F.size(F.filter(w, lambda x: x == F.lit(marker)))

    scores = {
        lang: sum(_count(m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)  # tie-break order
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("unknown")).otherwise(pred)
    return pred, best


def _quality_exprs():
    """Quality feature expressions over the text column (shared by
    quality_score, corpus_filter and quality_percentiles so each stays
    single-scan)."""
    w = word_array()
    n_chars = F.length("text")
    n_words = F.size(w)
    n_punct = n_chars - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    punct_ratio = round_half_up(n_punct / F.greatest(n_chars, F.lit(1)))
    stop_ratio = round_half_up(stop_hits / F.greatest(n_words, F.lit(1)))
    mean_word_len = round_half_up(
        (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1))
    )
    score = round_half_up(
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
    )
    return {
        "n_chars": n_chars, "n_words": n_words, "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio, "mean_word_len": mean_word_len,
        "quality": score,
    }


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language scoring: count marker hits per language, pick the
    argmax (ties broken by language code order). Deterministic heuristic —
    the real-corpus replacement would swap marker lists, not the plan."""
    pred, best = _lang_pred_expr()
    return docs.select(
        "doc_id", pred.alias("pred_lang"), best.cast("int").alias("marker_hits")
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features and a
    combined 0-1 score (larger = likelier natural prose)."""
    q = _quality_exprs()
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in q.items()]
    )


# corpus_filter's bars, checked in the order the reject reasons list them
FILTER_LANG = "en"
FILTER_MIN_WORDS = 8
FILTER_MAX_PUNCT_RATIO = 0.2
FILTER_MIN_QUALITY = 0.3


def corpus_filter(docs: DataFrame) -> DataFrame:
    """C4/Gopher-style corpus cleaning pass, composed from the stats
    operators: per doc, keep iff (a) canonical under exact dedup (smallest
    doc_id for its normalized fingerprint), (b) predicted language matches,
    (c) word count, punctuation ratio and combined quality clear the bars.
    Emits (doc_id, keep, reject_reason) with the FIRST failing rule as the
    reason (dedup > lang > short > punct > quality — the audit trail a
    training-data pipeline stores next to the corpus).

    Shape at 100 TB: ONE pruned scan — every feature (quality, language,
    fingerprint) is a codegen expression in a single projection; the only
    exchange is the (fingerprint, doc_id) window for dedup canonicality.
    Joining the separate stats operators instead would re-read the corpus
    three times."""
    from pyspark.sql import Window

    q = _quality_exprs()
    pred, _best = _lang_pred_expr()
    norm = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
    feats = docs.select(
        "doc_id",
        q["n_words"].alias("n_words"),
        q["punct_ratio"].alias("punct_ratio"),
        q["quality"].alias("quality"),
        pred.alias("pred_lang"),
        F.md5(norm).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    j = feats.withColumn("_rn", F.row_number().over(w))
    reason = (
        F.when(F.col("_rn") > 1, F.lit("duplicate"))
        .when(F.col("pred_lang") != FILTER_LANG, F.lit("lang"))
        .when(F.col("n_words") < FILTER_MIN_WORDS, F.lit("too_short"))
        .when(F.col("punct_ratio") > FILTER_MAX_PUNCT_RATIO, F.lit("punct"))
        .when(F.col("quality") < FILTER_MIN_QUALITY, F.lit("low_quality"))
    )
    return j.select(
        "doc_id",
        reason.isNull().alias("keep"),
        F.coalesce(reason, F.lit("")).alias("reject_reason"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    ws = F.size(word_array())
    bpe = F.size(F.regexp_extract_all("text", F.lit(TOKEN_PATTERN), F.lit(0)))
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("regex_tokens")
    )


def vocab_stats(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary statistics: top-k words by total term frequency
    (ties broken lexically) with document frequency — the vocab-coverage
    report a tokenizer-training pipeline runs first. One explode + one
    groupBy (map-side partial TF and DF; distinct-per-doc handled by
    counting distinct doc_ids), then a global top-k via orderBy().limit(k)
    — plans as TakeOrderedAndProject (map-side partial top-k per partition,
    k rows to the driver-side merge), NEVER a single-partition window sort
    of the whole vocabulary: at 100 TB the vocab is 10^8-10^9 rows and an
    un-partitioned Window.orderBy funnels all of it through one task. Rank
    is derived afterwards on the k surviving rows only."""
    from pyspark.sql import Window

    w = docs.select("doc_id", F.explode(word_array()).alias("word"))
    agg = w.groupBy("word").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    top = agg.orderBy(F.desc("tf"), F.asc("word")).limit(k)
    # window over <= k rows (the already-limited result), not the vocab
    win = Window.orderBy(F.desc("tf"), F.asc("word"))
    return (
        top.withColumn("rank", F.row_number().over(win))
        .select("word", "tf", "df", "rank")
    )


TFIDF_TOP_K = 3  # terms kept per doc by tfidf_top_terms


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Per-doc top-TFIDF_TOP_K terms by tf·idf (idf = ln(N/df)), rounded
    to 6 dp before ranking so ordering is engine-portable; ties break
    lexically. Shape: one explode + two aggregations. The per-word
    document-frequency table joins back onto the (doc, word) tf table
    WITHOUT a broadcast hint: at 100 TB the distinct-word table is
    10^8-10^9 rows and cannot be a broadcast — both sides are already
    keyed on `word`, so the shuffle join is one co-partitioned exchange
    (and AQE may still pick a broadcast when the vocab is actually
    small). Only the 1-row corpus count is force-broadcast."""
    from pyspark.sql import Window

    # spread before the explode: the single-row-group fixture layout would
    # otherwise run the whole word explode + partial aggregation in ONE
    # scan task (guide §2.5 input skew; no-op when the scan is already
    # parallel). A JVM-only stage, so no kernel_op sizes it.
    w = spread_for_kernel(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(word_array()).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "word")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", round_half_up(
            F.col("tf") * F.log(F.col("n_docs") / F.col("df"))))
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "word", "tfidf", "rank")
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Whole-document fingerprint: md5 of case/punctuation-normalized text
    (the cheap exact-dup key; winnowing_fingerprints below is the
    rolling-hash local-fingerprint set for partial-overlap detection)."""
    norm = F.trim(
        F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
    )
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


WINNOW_K = 3  # words per k-gram
WINNOW_W = 4  # window of consecutive k-gram hashes per fingerprint


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    word k-gram (k = WINNOW_K) to a 32-bit int, then keep the MIN hash of
    each window of w = WINNOW_W consecutive k-grams; the doc's fingerprint
    set is the DISTINCT window minima. Guarantees any shared run of
    >= k+w-1 words between two docs contributes at least one common
    fingerprint — the local analog of the whole-text md5 above, robust to
    partial overlap.

    Physical shape: ZERO shuffles — one Arrow-batched kernel per doc
    (r7, guide §4.2: hashlib md5 first-4-bytes == the JVM
    conv(substring(md5, 1, 8), 16, 10) hash; the sliding window minima
    are one vectorized NumPy reduction; np.unique replaces
    array_distinct — the DISTINCT SET is what the operator emits, and
    row order never carries meaning here). The r6 interpreted
    HOF formulation (transform + array_min over slices) re-scanned w
    array cells per gram; an exploded-rows + per-doc-window formulation
    is semantically identical but pays a 5M-row sort at sf0.1 (measured
    29s vs ~3s) — and the DuckDB oracle deliberately KEEPS that window
    formulation as the independent mirror. Docs shorter than k words
    fingerprint their whole word sequence as one gram. The kernel emits
    one fp array per doc; the JVM explodes it."""
    import hashlib

    import numpy as np

    def fingerprints(text):
        buf = b"".join(hashlib.md5(g.encode()).digest()[:4]
                       for g in word_grams(doc_words(text), WINNOW_K))
        hs = np.frombuffer(buf, dtype=">u4").astype(np.int64)
        if hs.size >= WINNOW_W:
            mins = np.lib.stride_tricks.sliding_window_view(
                hs, WINNOW_W).min(axis=1)
        else:
            mins = hs.min(keepdims=True)
        return [{"fp": np.unique(mins).tolist()}]

    return kernel_op(docs, fingerprints, "fp array<long>",
                     args=["text"]).select(
        "doc_id", F.explode("fp").alias("fp"))


# C4/CCNet-style PII scrubbing: portable regexes (no lookaround — valid in
# both Java regex and RE2) applied in a fixed order. Replacement is
# sequential (URL first, so an email inside a URL is scrubbed once, as part
# of the <URL> token) — but the audit COUNTS are each measured on the
# ORIGINAL text, so they MAY overlap: an email embedded in a URL increments
# both n_urls and n_emails. That is the committed contract (the DuckDB
# oracle counts the same way); treat the counts as per-pattern hit rates,
# not a partition of the text.
PII_PATTERNS = (
    ("n_urls", "https?://[^\\s]+", "<URL>"),
    ("n_emails",
     "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("n_ips", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("n_phones", "\\+\\d{1,2}[ -]\\d{3}[ -]\\d{3,4}[ -]\\d{3,4}", "<PHONE>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII/URL scrubbing pass a training-data pipeline runs before anything
    touches the text (C4 §2.2 semantics): emails, URLs, IPv4s and
    international-format phone numbers replaced with typed placeholder
    tokens, per-kind hit counts kept as the audit columns. Pure codegen —
    four regexp_count + four chained regexp_replace inside one projection
    over a pruned scan; zero shuffles at any scale."""
    counts = [
        F.regexp_count("text", F.lit(pat)).cast("long").alias(name)
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.col("text")
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return docs.select("doc_id", clean.alias("clean_text"), *counts)


def doc_stats_rollup(docs: DataFrame) -> DataFrame:
    """ROLLUP(source, pred_lang): doc counts + mean quality at every
    hierarchy level (grand total → per source → per source+language) —
    the aggregation-hierarchy report a corpus dashboard serves from one
    pass. One Expand + one aggregation exchange (same shape as cube but
    N+1 groupings instead of 2^N).

    r7 (guide §7.2 — duplicated subtrees): inlining _lang_pred_expr's
    argmax CASE into the Expand stage repeated the split(trim(text))
    tokenization ~90 times in ONE Project; the fused
    Project+Expand+HashAggregate stage blows the codegen method limit
    and falls back to interpreted eval, where nothing eliminates the
    duplicates — 19 s at sf1.0 vs 0.3 s for lang_id's codegen'd copy of
    the same expressions. The marker scores are therefore materialized
    once behind a Generate barrier (explode of a 1-element struct array
    — the _shingles_df trick, which CollapseProject cannot cross) and
    the per-doc features therefore move to one vectorized-batch Python
    kernel (guide §4.2: a marker-dict pass per token beats 15
    interpreted array-filter lambdas per doc), replaying the JVM float
    expression order op-for-op (each ratio rounded via
    floor(x*1e6+0.5)/1e6 before use, min/max for least/greatest), so
    quality and pred_lang are bit-identical; only the rollup aggregate
    stays relational. 19.2 s → ~1 s at sf1.0."""
    import math
    import re

    langs = sorted(LANG_MARKERS)
    marker2lang = {m: la for la in langs for m in LANG_MARKERS[la]}
    stop = set(STOPWORDS)
    punct_re = re.compile(r"[^a-zA-Z0-9 ]")

    def feats_kernel(text):
        toks = doc_words(text)
        n_chars = len(text)
        n_words = len(toks)
        n_punct = n_chars - len(punct_re.sub("", text))
        stop_hits = 0
        counts = dict.fromkeys(langs, 0)
        for t in toks:
            if t in stop:
                stop_hits += 1
            la = marker2lang.get(t)
            if la is not None:
                counts[la] += 1
        pr = math.floor((n_punct / max(n_chars, 1))
                        * 1000000.0 + 0.5) / 1000000.0
        sr = math.floor((stop_hits / max(n_words, 1))
                        * 1000000.0 + 0.5) / 1000000.0
        quality = math.floor(
            (min(n_words / 50.0, 1.0) * 0.4
             + (1.0 - min(pr * 5, 1.0)) * 0.3
             + min(sr * 5, 1.0) * 0.3) * 1000000.0 + 0.5
        ) / 1000000.0
        best = max(counts.values())
        pred = "unknown" if best <= 0 else next(
            la for la in langs if counts[la] == best)
        return [{"pred_lang": pred, "quality": quality}]

    # avg(quality) sums 1e-6-quantized doubles, so its partial-sum ORDER is
    # observable at the 6th decimal: a round-robin or doc_id spread upstream
    # of the rollup flips boundary groups vs the oracle's sequential sum
    # (seen at sf0.01: one group off by 1e-6). kernel_op's spread keeps
    # the order: at sf0.01 the (source, text) input is estimated at 37 KB,
    # so n = 1 and there is no exchange; above that it hashes on
    # keys=("source",), which keeps each source's rows in one task in the
    # order of the one scan task; only the grand total then sums partials
    # from several tasks.
    feats = kernel_op(docs, feats_kernel, "pred_lang string, quality double",
                      keys=("source",), args=["text"])
    return (
        feats.rollup("source", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             round_half_up(F.avg("quality")).alias("avg_quality"),
             F.grouping_id().cast("long").alias("gid"))
        .select("source", "pred_lang", "n_docs", "avg_quality", "gid")
    )


def quality_percentiles(docs: DataFrame) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of word count and
    quality per source — Spark's `percentile` and ANSI quantile_cont share
    the same linear-interpolation definition, so this stays hash-checkable
    (unlike approx_percentile). At 100 TB swap in approx_percentile with a
    documented error bound; the query shape (one groupBy) is identical."""
    q = _quality_exprs()
    feats = docs.select("source", q["n_words"].alias("n_words"),
                        q["quality"].alias("quality"))
    pcts = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    aggs = []
    for tag, p in pcts.items():
        aggs.append(round_half_up(
            F.percentile("n_words", F.lit(p))).alias(f"words_{tag}"))
        aggs.append(round_half_up(
            F.percentile("quality", F.lit(p))).alias(f"quality_{tag}"))
    return feats.groupBy("source").agg(*aggs)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    the NeMo-Curator/DataTrove formulation) with ZERO shuffles: each
    document's word n-grams are array_sort-ed so equal grams sit
    adjacent, then a higher-order `aggregate` fold turns run lengths
    into counts — the whole query is one narrow projection inside the
    parquet scan (the same sort+fold trick that beat the exploded
    window formulation 10x for winnowing). Metrics per doc:

      dup_word_frac    1 - distinct words / words
      top2_cover_frac  max over bigrams of count*chars(gram) / chars(text)
      dup5_cover_frac  sum over 5-grams seen >1 time of count*chars(gram)
                       / chars(text), capped at 1 (overlap approximation —
                       the standard pipeline definition)

    At 100 TB the per-doc cost is O(n log n) in the doc's word count with
    no exchange at all; the alternative explode->groupBy(doc, gram) shape
    shuffles every gram of the corpus twice."""
    gram = ("array_sort(transform(sequence(1, size(ws) - %d), "
            "i -> concat_ws(' ', slice(ws, i, %d))))")
    top2 = (
        "aggregate(" + gram % (1, 2) + ", "
        "named_struct('prev', '', 'run', 0L, 'best', 0L), "
        "(a, x) -> named_struct('prev', x, "
        "  'run', IF(x = a.prev, a.run + 1, 1L), "
        "  'best', greatest(a.best, "
        "          IF(x = a.prev, a.run + 1, 1L) * length(x))), "
        "a -> a.best)")
    dup5 = (
        "aggregate(" + gram % (4, 5) + ", "
        "named_struct('prev', '', 'run', 0L, 'tot', 0L), "
        "(a, x) -> named_struct('prev', x, "
        "  'run', IF(x = a.prev, a.run + 1, 1L), "
        "  'tot', a.tot + IF(x = a.prev, "
        "         IF(a.run = 1, 2L * length(x), CAST(length(x) AS BIGINT)), "
        "         0L)), "
        "a -> a.tot)")
    base = (docs.select("doc_id", "text")
            .withColumn("ws", word_array())
            .withColumn("nch", F.length("text"))
            .withColumn("cover2", F.expr(
                f"IF(size(ws) >= 2, {top2}, 0L)"))
            .withColumn("dupch5", F.expr(
                f"IF(size(ws) >= 5, {dup5}, 0L)")))
    nw = F.size("ws")
    safe = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    return base.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        # written as 1 - distinct/total (not (total-distinct)/total): the
        # DuckDB oracle uses the same literal formula, so the IEEE result
        # is bit-identical before rounding
        round_half_up(F.when(
            nw > 0,
            F.lit(1.0) - F.size(F.array_distinct("ws")).cast("double") / nw
        ).otherwise(F.lit(0.0))).alias("dup_word_frac"),
        round_half_up(safe(F.col("cover2").cast("double"), F.col("nch"))
                      ).alias("top2_cover_frac"),
        round_half_up(F.least(F.lit(1.0), safe(
            F.col("dupch5").cast("double"), F.col("nch")))
        ).alias("dup5_cover_frac"),
    )


DECON_EVAL_MOD = 20     # doc_id % MOD == REM selects the held-out slice
DECON_EVAL_REM = 3
DECON_N = 8             # same shingle width as duplicate_ngram_pairs


def decontaminate(docs: DataFrame,
                  eval_docs: DataFrame | None = None) -> DataFrame:
    """Benchmark decontamination (GPT-3 appx C / Lee et al.): flag every
    training document that shares a word-8-gram with the held-out
    benchmark set. `eval_docs` is the benchmark table (doc_id, text); if
    None, the slice doc_id % 20 == 3 of `docs` stands in (the
    oracle-checked fixture configuration — production passes the real
    eval table).

    Scale shape: real eval sets are a few MB against a 100 TB corpus, so
    the eval side's distinct shingle hashes are BROADCAST — the training
    scan joins map-side with no shuffle of corpus data, then one
    partial-agg count per flagged doc. Output: (doc_id, n_eval_grams),
    only contaminated docs."""
    if eval_docs is None:
        g = ngram_digests(docs, DECON_N)
        is_eval = (F.col("doc_id") % DECON_EVAL_MOD) == DECON_EVAL_REM
        ev = g.where(is_eval).select("sh").distinct()
        tr = g.where(~is_eval)
    else:
        ev = ngram_digests(eval_docs, DECON_N).select("sh").distinct()
        tr = ngram_digests(docs, DECON_N)
    return (tr.join(F.broadcast(ev), "sh")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_eval_grams")))


def domain_stats(docs: DataFrame) -> DataFrame:
    """Per-domain crawl statistics — the input to C4/RefinedWeb-style
    per-domain filtering and URL dedup: every URL host in the raw web
    text, one row per domain with reference and distinct-document
    counts. One explode + one partial-agg groupBy on the domain key; at
    100 TB the host cardinality is millions, far below corpus rows, so
    the final exchange is small."""
    hosts = F.expr(r"regexp_extract_all(text, 'https?://([^/\\s]+)', 1)")
    d = docs.select("doc_id", F.explode(hosts).alias("domain"))
    return (d.select("doc_id", F.lower("domain").alias("domain"))
            .groupBy("domain")
            .agg(F.count("*").cast("long").alias("n_refs"),
                 F.countDistinct("doc_id").cast("long").alias("n_docs")))


CHUNK_SIZE = 64      # words per training chunk
CHUNK_OVERLAP = 8    # words shared between consecutive chunks


def chunk_documents(docs: DataFrame, size: int = CHUNK_SIZE,
                    overlap: int = CHUNK_OVERLAP) -> DataFrame:
    """Fixed-size word-window chunking with overlap — the pre-tokenizer
    splitting pass a training pipeline runs before sequence packing.
    Chunk i covers words [i*step, i*step + size) with step = size -
    overlap; the tail chunk is shorter. ZERO shuffles: start offsets via
    sequence(), windows via slice(), one posexplode — all inside the
    scan projection at any scale."""
    step = size - overlap
    ws = word_array()
    w = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") > 0)
    starts = F.sequence(F.lit(0), F.size("ws") - 1, F.lit(step))
    ex = w.select("doc_id", "ws",
                  F.posexplode(starts).alias("chunk_id", "st"))
    chunk = F.slice("ws", F.col("st") + 1, size)
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_words"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def url_dedup(docs: DataFrame) -> DataFrame:
    """URL-canonical dedup over the crawl layer (runs BEFORE content
    dedup): each document's first URL, canonicalized (lowercased host +
    path, query/fragment stripped), is its source identity; documents
    sharing a canonical URL keep the smallest doc_id. One window over
    the canonical-URL key — key cardinality is near the doc count, so
    the exchange spreads; no full-row shuffle (only doc_id + url move).
    Docs with no URL pass through as keepers with a NULL canon_url
    (windowed under a per-doc synthetic key — a shared NULL partition
    would funnel every URL-less doc through one task)."""
    host = F.lower(F.regexp_extract("text", r"https?://([^/\s?#]+)", 1))
    path = F.regexp_extract("text", r"https?://[^/\s?#]+(/[^\s?#]*)", 1)
    canon = F.when(host != "", F.concat(host, path))
    from pyspark.sql import Window
    d = docs.select("doc_id", canon.alias("canon_url"))
    wkey = F.coalesce(
        F.col("canon_url"),
        F.concat(F.lit("\x00doc:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(wkey).orderBy("doc_id")
    return (d.withColumn("keep", F.row_number().over(w) == 1)
            .select("doc_id", "canon_url", "keep"))


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic hash-gated stratified sampling — the data-mixing
    pass that enforces per-source quotas before training. Keep a doc
    iff the first 32 md5 bits of 'source:doc_id' mod 1000 fall under
    the source's quota (here: ((source index % 4)+1)/4 as the fixture
    mixing table — production broadcasts a real weights map; the gate
    is the same). Pure codegen, zero shuffles, and reproducible across
    engines and runs — unlike Bernoulli/reservoir sampling, which is
    not hash-checkable and resamples on retry (a lineage hazard)."""
    # digit-less source names fall to index 0 (quota 0.25) instead of a
    # NULL gate — and the oracle mirrors with TRY_CAST, where a plain
    # CAST('' AS INT) would error
    idx = F.coalesce(
        F.regexp_extract("source", r"(\d+)", 1).cast("int"), F.lit(0))
    thresh = ((idx % 4) + 1) * 250  # rate * 1000
    h = (F.conv(F.substring(
        F.md5(F.concat_ws(":", "source", F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % 1000)
    return docs.select(
        "doc_id", "source",
        h.alias("bucket"),
        thresh.cast("long").alias("quota_permille"),
        (h < thresh).alias("keep"))


def lm_score(docs: DataFrame) -> DataFrame:
    """Char-trigram LM quality proxy — the CCNet/KenLM-style perplexity
    filter, deterministic stand-in: the model is the corpus's own
    trigram distribution (production swaps in a reference-corpus model
    table; the join shape is identical). Per doc: mean negative
    log-likelihood of its char trigrams under the model — lower = more
    typical text, the signal CCNet buckets on.

    Shape (r7, guide §2.3 "aggregate before you shuffle" + §4.2):
    per-doc trigram COUNTS are built in one vectorized NumPy pass
    (utf-32 view -> three shifted slices packed into a 63-bit integer
    key — 3 x 21-bit code points, an exact bijection to the trigram
    string — then np.unique), so what crosses every exchange is the
    per-doc distinct-trigram table, not one row per character of the
    corpus (the r6 plan exploded ~3 interpreted zip_with/concat arrays
    per doc and shuffled every trigram INSTANCE through the model join
    and the doc rollup — 24 s at sf1.0). The model stays one count
    aggregation joined back on the packed key (cost-based broadcast at
    small scale, shuffle join at 10^9 distinct keys — not
    force-broadcast); only the 1-row corpus total is hint-broadcast;
    log() stays a JVM expression so its libm semantics are unchanged.
    The per-doc mean nll is the count-weighted mean over distinct
    trigrams — algebraically identical to the r6 per-instance avg
    (every instance of a trigram carries the same nll; 6-dp parity
    asserted by tests/test_oracle_parity.py against the unchanged
    per-instance oracle SQL). The kernel emits one (key, k) array pair
    per doc; inline(arrays_zip) fans it out in the JVM."""
    import numpy as np

    def tri_counts(text):
        a = np.frombuffer(text.encode("utf-32-le"),
                          dtype=np.uint32).astype(np.int64)
        packed = (a[:-2] << 42) | (a[1:-1] << 21) | a[2:]
        u, c = np.unique(packed, return_counts=True)
        return [{"key": u.tolist(), "k": c.tolist()}]

    g = kernel_op(docs.where(F.length("text") >= 3), tri_counts,
                  "key array<long>, k array<long>", args=["text"]).select(
        "doc_id", F.inline(F.arrays_zip("key", "k")))
    model = g.groupBy("key").agg(F.sum("k").alias("c"))
    total = model.agg(F.sum("c").alias("total"))
    scored = (g.join(model, "key")
              .join(F.broadcast(total))
              .withColumn("nll", F.log(F.col("total") / F.col("c"))))
    return (scored.groupBy("doc_id")
            .agg(F.sum("k").cast("long").alias("n_tri"),
                 round_half_up(F.sum(F.col("k") * F.col("nll"))
                               / F.sum("k")).alias("lm_nll")))


SEQ_LEN = 128  # words per packed training sequence


def _range_split_points(n: DataFrame, buckets: int) -> list:
    """Driver-side interior split points over ``doc_id`` for the range
    bucketing, in ONE column-pruned aggregation pass (count + a
    fixed-size quantile sketch together — VERDICT r5 item 9 folded the
    former separate ``count()`` job into the sample job). Numeric
    doc_id uses ``percentile_approx`` (bounded sketch state regardless
    of corpus size); non-numeric falls back to a content-keyed
    crc32-gated sample. Split points affect only bucket BALANCE, never
    output values — pack_sequences is exact for ANY choice of splits
    (the per-bucket window + bucket-totals subtrees both consume the
    same driver-side literal list)."""
    if buckets <= 1:
        return []
    if isinstance(n.schema["doc_id"].dataType, (T.NumericType,)):
        probs = [i / buckets for i in range(1, buckets)]
        row = n.agg(
            F.count("*").alias("total"),
            F.percentile_approx("doc_id", probs, 10_000).alias("pts"),
        ).collect()[0]
        total = row["total"] or 0
        pts = sorted(set(row["pts"] or []))
        return pts[: max(0, min(buckets, total or 1) - 1)]
    # non-numeric doc_id: crc32-gated sample (two metadata-scale jobs)
    total = n.count()
    buckets = max(1, min(buckets, total or 1))
    if buckets == 1:
        return []
    mod = max(1, total // (buckets * 64))
    sample = sorted(
        r[0] for r in n.where(
            F.pmod(F.crc32(F.col("doc_id").cast("string")
                           .cast("binary")), F.lit(mod)) == 0)
        .select("doc_id").collect())
    if not sample:
        return []
    step = max(1, len(sample) // buckets)
    return sample[step::step][:buckets - 1]


def pack_sequences(docs: DataFrame, buckets: int = None) -> DataFrame:
    """Concat-and-split sequence packing — the GPT-style packing step:
    conceptually concatenate every document's words in doc_id order and
    cut SEQ_LEN-word training sequences; emit the pack MANIFEST
    (seq_id, doc_id, word_from, word_to) that tells every sequence
    which word span of which document it carries.

    The global word offset of each doc is a prefix sum over the whole
    corpus — computed as the classic TWO-PHASE DISTRIBUTED SCAN, never
    a single-partition window over all docs. The scan is keyed on a
    DETERMINISTIC range bucket (``_bucket``): split points over doc_id
    are computed once driver-side from a content-keyed sample
    (`_range_split_points`), and every row's bucket is a pure function
    of its doc_id — so the per-bucket window subtree and the
    bucket-totals subtree always agree, under any AQE replan, shuffle
    partition count, or stage recomputation (the round-4
    ``spark_partition_id()`` key was not such a contract). The output
    is the exact global prefix sum for ANY choice of split points, so
    sample quality affects only balance, never values. Only the B
    bucket totals (metadata scale) go through the tiny global-order
    window before broadcasting back. Output rows are then a per-doc
    explode of the sequences the doc's span overlaps — no further
    shuffle."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions",
                                     "200"))
    # NOT spread: the n-subtree is evaluated by three consumers (the
    # split-point sample, the per-bucket window and the bucket totals), so
    # an upstream shuffle would be paid three times — measured slower than
    # letting each consumer run the cheap codegen word-count in the scan
    n = (docs.select("doc_id", F.size(word_array()).alias("n"))
         .where(F.col("n") > 0))
    splits = _range_split_points(n, buckets)
    if splits:
        bucket = F.aggregate(
            F.lit(splits), F.lit(0),
            lambda acc, s: acc
            + F.when(F.col("doc_id") >= s, 1).otherwise(0))
    else:
        bucket = F.lit(0)
    n = n.withColumn("_bucket", bucket).repartition(
        max(1, len(splits) + 1), F.col("_bucket"))
    wloc = Window.partitionBy("_bucket").orderBy("doc_id")
    local = n.withColumn(
        "local_start", F.sum("n").over(wloc) - F.col("n"))
    totals = n.groupBy("_bucket").agg(F.sum("n").alias("ptotal"))
    wglob = Window.orderBy("_bucket")  # B rows only — metadata scale
    offsets = totals.withColumn(
        "poffset", F.coalesce(
            F.sum("ptotal").over(wglob) - F.col("ptotal"), F.lit(0)))
    placed = (local.join(
        F.broadcast(offsets.select("_bucket", "poffset")), "_bucket")
        .withColumn("start", F.col("poffset") + F.col("local_start")))
    first = F.floor(F.col("start") / SEQ_LEN)
    last = F.floor((F.col("start") + F.col("n") - 1) / SEQ_LEN)
    ex = placed.select(
        "doc_id", "n", "start",
        F.explode(F.sequence(first, last)).alias("seq_id"))
    word_from = F.greatest(
        F.col("seq_id") * SEQ_LEN - F.col("start"), F.lit(0)) + 1
    word_to = F.least(
        (F.col("seq_id") + 1) * SEQ_LEN - F.col("start"), F.col("n"))
    return ex.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        word_from.cast("long").alias("word_from"),
        word_to.cast("long").alias("word_to"))
