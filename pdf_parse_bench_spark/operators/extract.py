"""DataFrame-native extraction pipeline (the engine's core path).

Every per-document stage is one ``kernel_op`` (operators/kernel.py): the
kernel runs inside Arrow batches on executors, never per-row at the
driver (north_rule), and the scaffold owns the batch loop and frame
build. Stages:

  markdown corpus ──► compute_boilerplate (corpus-level repeated first/last
                      line aggregation — the distributed analog of the
                      reference's per-page y-cluster header/footer strip, P2)
                 ──► extract_spans (kernel_op over size-rebalanced rows)
  layout blocks  ──► extract_spans_from_layout (collect_list per doc_id
                      → batched kernel_op: XY-cut order + category strip)
  pdf bytes      ──► parse_pdfs / pdf_spans (kernel_op byte-stream
                      tokenizer, M2)
  golden+markdown──► align_extractions (packed-golden join → batched
                      kernel_op, the GT-guided "extract" stage J1/J2/J5/J6)

Reference lifecycle being replaced: pipeline/pipeline.py:62-139 (per-doc
thread pools → Spark task parallelism, SURVEY.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdf_parse_bench_spark import schemas
from pdf_parse_bench_spark.kernels.alignment import align_spans
from pdf_parse_bench_spark.kernels.layout import blocks_to_spans
from pdf_parse_bench_spark.kernels.htmldoc import parse_html
from pdf_parse_bench_spark.kernels.markdown import parse_markdown
from pdf_parse_bench_spark.kernels.pdftext import extract_pdf_text
from pdf_parse_bench_spark.operators.kernel import kernel_op
from pdf_parse_bench_spark.operators.skew import rebalance_by_size


def compute_boilerplate(md_df: DataFrame, min_docs: int = 5) -> DataFrame:
    """Lines that appear as the first or last non-empty line of >= min_docs
    documents. The result is tiny and meant to be broadcast into the
    extraction kernel.

    r7 (guide §2.3 — shuffle/ship only what the decision needs): only the
    FIRST and LAST non-empty line of each doc matter, so the edge lines
    come from two anchored codegen regexes instead of splitting (r6) or
    shipping (mid-r7) every line of every document. The pattern skips
    spaces-only lines from the string's start; the LAST line reuses the
    same pattern on reverse(markdown) and reverses the capture back. trim
    (spaces-only, matching the kernel-side strip) canonicalizes both.
    No Python boundary, no full-line materialization; the one exchange
    carries two short lines per doc into the count."""
    from pdf_parse_bench_spark.operators.skew import spread_for_kernel

    pat = r"\A(?:[ ]*\n)*[ ]*([^\n]*)"
    first = F.trim(F.regexp_extract("markdown", pat, 1))
    last = F.trim(F.reverse(
        F.regexp_extract(F.reverse(F.col("markdown")), pat, 1)))
    edges = (
        spread_for_kernel(md_df.select("doc_id", "markdown"))
        .select("doc_id",
                F.explode(F.array_distinct(F.array(first, last))).alias("line"))
        .where(F.col("line") != "")
    )
    return (
        edges.groupBy("line")
        .agg(F.count("*").alias("n_docs"))  # edge rows are per-doc distinct
        .where(F.col("n_docs") >= min_docs)
        .select("line")
    )


def _collect_boilerplate(md_df: DataFrame, min_docs: int = 5) -> frozenset[str]:
    return frozenset(r.line for r in compute_boilerplate(md_df, min_docs).collect())


def extract_spans(md_df: DataFrame, boilerplate: frozenset[str] | None = None,
                  rebalance: bool = True) -> DataFrame:
    """Unguided extraction: markdown → ordered spans (flagship path).

    One ``kernel_op`` runs ``parse_markdown`` per document against the
    broadcast boilerplate set (collected from the corpus when not given);
    ``rebalance`` size-rebalances the input first (operators/skew.py) and
    is off only where the caller has already spread the rows."""
    if boilerplate is None:
        boilerplate = _collect_boilerplate(md_df)
    bp = md_df.sparkSession.sparkContext.broadcast(boilerplate)
    if rebalance:
        md_df = rebalance_by_size(md_df, size_col=F.length("markdown"))
    return kernel_op(md_df, lambda md: parse_markdown(md, bp.value),
                     schemas.EXTRACTED_SPANS_SCHEMA, args=["markdown"])


def extract_spans_from_layout(blocks_df: DataFrame) -> DataFrame:
    """Layout path: one shuffle co-locates each doc's blocks (XY-cut
    restores reading order from geometry alone).

    Physical shape: JVM-side collect_list aggregation feeding ONE
    kernel_op pass with thousands of docs per Arrow batch — NOT
    applyInPandas, whose one-pandas-DataFrame-per-group path pays
    per-group overhead that dominates when docs are small (measured at
    sf0.1: 5.9 s grouped vs sub-second batched for a 0.3 s/32-core
    kernel). array_sort canonicalizes block order so the result never
    depends on shuffle arrival order."""
    from pdf_parse_bench_spark.operators.skew import spread_for_kernel

    # pre-spread on the SAME key as the groupBy: the repartition replaces
    # (not adds to) the aggregation exchange, moving the collect_list
    # partials off the 2-task single-row-group scan onto all cores
    grouped = spread_for_kernel(blocks_df).groupBy("doc_id").agg(
        F.array_sort(F.collect_list(
            F.struct("page_no", "bbox", "category", "text"))).alias("blocks"))
    return kernel_op(
        grouped, lambda blocks: blocks_to_spans([dict(b) for b in blocks]),
        schemas.EXTRACTED_SPANS_SCHEMA, args=["blocks"])


def extract_spans_from_html(html_df: DataFrame) -> DataFrame:
    """Structured-markup path (M4 analog; north_rule's HTML boilerplate
    strip + DOM heuristics): header/footer/nav/script subtrees dropped by
    DOM role, body walked in document order, spans emitted."""
    html_df = rebalance_by_size(html_df, size_col=F.length("html"))
    return kernel_op(html_df, parse_html, schemas.EXTRACTED_SPANS_SCHEMA,
                     args=["html"])


def extract_spans_from_tei(tei_df: DataFrame) -> DataFrame:
    """TEI-XML path (GROBID flavor of M4, parsers/grobid/__main__.py:22-47):
    abstract first, then the body div walk — namespace-agnostic ElementTree
    kernel inside Arrow batches."""
    from pdf_parse_bench_spark.kernels.teidoc import parse_tei

    tei_df = rebalance_by_size(tei_df, size_col=F.length("tei"))
    return kernel_op(tei_df, parse_tei, schemas.EXTRACTED_SPANS_SCHEMA,
                     args=["tei"])


def parse_pdfs(pdf_df: DataFrame, rebalance: bool = True) -> DataFrame:
    """Raw-PDF path (M2): byte-stream tokenizer inside Arrow batches."""
    if rebalance:
        pdf_df = rebalance_by_size(pdf_df, size_col=F.length("pdf_bytes"))
    return kernel_op(pdf_df, lambda b: [{"text": extract_pdf_text(bytes(b))}],
                     schemas.PDF_TEXT_SCHEMA, args=["pdf_bytes"])


def pdf_spans(pdf_df: DataFrame, rebalance: bool = True) -> DataFrame:
    """Raw-PDF path with span classification: font-aware formula/prose
    separation (math-face runs + formula-line banding,
    kernels/pdftext._runs_to_spans) → ordered (kind, text) spans per doc —
    the reference's per-backend extraction contract recovered without a
    VLM (block model: parsers/dots_ocr/__main__.py:125-142)."""
    from pdf_parse_bench_spark.kernels.pdftext import extract_pdf_spans

    if rebalance:
        pdf_df = rebalance_by_size(pdf_df, size_col=F.length("pdf_bytes"))
    return kernel_op(pdf_df, lambda b: extract_pdf_spans(bytes(b)),
                     "doc_id string, offset int, kind string, text string, "
                     "media_ref string", args=["pdf_bytes"])


def pdf_encrypt_audit(pdf_df: DataFrame,
                      passwords_df: DataFrame | None = None,
                      both: bool = False) -> DataFrame:
    """Per-document encryption audit over a raw-PDF corpus: scheme
    (none / rc4-40 / rc4-128 / aes-128 / aes-256 / other / damaged) and
    whether key derivation succeeded — the triage a 100 TB crawl runs
    before extraction (the reference inherits this from pypdf's decrypt
    path, parsers/pypdf/__main__.py:30-32).  Pure header/KDF work per
    doc; no page parsing.

    `passwords_df` is the optional (doc_id, password) side table —
    a secrets registry is tiny relative to the corpus, so it joins by
    BROADCAST (no shuffle of the pdf bytes); rows without an entry
    audit with the empty password as before.

    ``both=True`` (r7, guide §2.4): audit the empty password AND the
    side-table password in the SAME kernel pass, returning (doc_id,
    scheme, decrypt_ok_empty, decrypt_ok_pw). The r6 pdf_locked_audit
    composed this as two full corpus passes (two scans + two size
    rebalances of pdf_bytes, two header parses per doc) joined on
    doc_id; one pass halves the non-KDF work and drops the join. The
    KDF calls themselves are unchanged (an empty-vs-registry audit
    inherently derives both keys), and within a reused python worker
    the _hash_2b lru_cache still dedupes the wrong-password fallback
    probes exactly as before."""
    from pdf_parse_bench_spark.kernels.pdfcrypt import sniff_encryption

    pdf_df = rebalance_by_size(pdf_df, size_col=F.length("pdf_bytes"))
    args = ["pdf_bytes"]
    if passwords_df is not None:
        pdf_df = pdf_df.join(
            F.broadcast(passwords_df.select("doc_id", "password")),
            "doc_id", "left")
        args.append("password")

    def audit(b, pw=None):
        bb, pw = bytes(b), pw.encode() if isinstance(pw, str) else b""
        if not both:
            scheme, ok = sniff_encryption(bb, password=pw)
            return [{"scheme": scheme, "decrypt_ok": ok}]
        scheme, ok_empty = sniff_encryption(bb, password=b"")
        _, ok_pw = sniff_encryption(bb, password=pw)
        return [{"scheme": scheme, "decrypt_ok_empty": ok_empty,
                 "decrypt_ok_pw": ok_pw}]

    schema = ("doc_id string, scheme string, decrypt_ok_empty boolean, "
              "decrypt_ok_pw boolean" if both else
              "doc_id string, scheme string, decrypt_ok boolean")
    return kernel_op(pdf_df, audit, schema, args=args)


def rasterize_pages(pdf_df: DataFrame, include_png: bool = True) -> DataFrame:
    """M5 page rasterization (the fitz ``get_pixmap`` analog,
    parsers/dots_ocr/__main__.py:111-118): PDF bytes → one PNG pixmap row
    per page (doc_id, page_no, png, width, height, ink_ratio), rendered at
    72 dpi by the deterministic glyph-box rasterizer
    (kernels/pdftext.page_pixmap) and encoded with the stdlib PNG codec.
    All inside Arrow batches."""
    from pdf_parse_bench_spark.kernels.pdftext import rasterize_pdf

    pdf_df = rebalance_by_size(pdf_df, size_col=F.length("pdf_bytes"))
    cols = ("page_no", "png", "width", "height", "ink_ratio")
    return kernel_op(
        pdf_df,
        lambda b: [dict(zip(cols, page)) for page in
                   rasterize_pdf(bytes(b), include_png=include_png)],
        "doc_id string, page_no int, png binary, width int, height int, "
        "ink_ratio double",
        args=["pdf_bytes"])


def pdf_image_stats_op(pdf_df: DataFrame) -> DataFrame:
    """Embedded-figure pixel stats: PDF bytes → one row per painted
    image (doc_id, page_no, seq, media_ref, px_w, px_h, mean_intensity,
    decoded) via kernels/pdftext.pdf_image_stats — DCTDecode streams
    (baseline AND progressive JPEG) and raw/Flate rasters decode to true
    means; undecodable data degrades to decoded=false rows, never an
    abort (X4). Same pruned-scan → size-rebalance → kernel_op shape as
    the other PDF fan-outs."""
    from pdf_parse_bench_spark.kernels.pdftext import pdf_image_stats

    pdf_df = rebalance_by_size(pdf_df, size_col=F.length("pdf_bytes"))
    return kernel_op(
        pdf_df, lambda b: pdf_image_stats(bytes(b)),
        "doc_id string, page_no int, seq int, media_ref string, "
        "px_w int, px_h int, mean_intensity double, decoded boolean",
        args=["pdf_bytes"])


def align_extractions(md_df: DataFrame, golden_df: DataFrame,
                      boilerplate: frozenset[str] | None = None) -> DataFrame:
    """GT-guided alignment (reference extract stage): cogroup markdown with
    golden spans on doc_id — both sides shuffle once on the same key, the
    kernel never sees more than one document at a time."""
    if boilerplate is None:
        boilerplate = _collect_boilerplate(md_df)
    bp = md_df.sparkSession.sparkContext.broadcast(boilerplate)

    # Golden side packs to ONE sorted array row per doc (map-side partial
    # collect), then an inner join on doc_id feeds a single kernel_op
    # with thousands of docs per Arrow batch — same one-exchange-per-side
    # shuffle shape as the previous cogroup, without applyInPandas's
    # per-group pandas overhead (docs absent from either side contribute
    # nothing, exactly like the old empty-group early-return).
    from pdf_parse_bench_spark.operators.skew import spread_for_kernel

    # pre-spread on the groupBy key (replaces, not adds to, the aggregation
    # exchange): the single-row-group golden table otherwise builds its
    # collect_list partials in the 2-task scan stage
    packed = spread_for_kernel(golden_df).groupBy("doc_id").agg(
        F.array_sort(F.collect_list(
            F.struct("offset", "kind", "text", "media_ref"))).alias("gt"))
    joined = md_df.select("doc_id", "markdown").join(packed, "doc_id")

    def align(markdown, gt):
        golden = [{"kind": g["kind"], "text": g["text"],
                   "media_ref": g["media_ref"]} for g in gt]
        return align_spans(golden, markdown, bp.value)

    return kernel_op(joined, align, schemas.EXTRACTED_SPANS_SCHEMA,
                     args=["markdown", "gt"])


def substitute_table_refs(md_df: DataFrame, tables_df: DataFrame) -> DataFrame:
    """M10 table-ref substitution (mistral page assembly,
    parsers/mistral/__main__.py:56-64): replace each ``[tbl_id](tbl_id)``
    link in the page markdown with that table's content.

    Spark shape: tables collapse to one (id, content) array per doc (one
    shuffle, map-side partial), join back on doc_id, then a JVM-side
    ``aggregate`` fold applies one ``replace`` per table — no Python UDF.
    Tables per doc are few (the array stays KB-sized); the join broadcasts
    when the table side is small."""
    tmap = tables_df.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("table_id", "content"))
        ).alias("tbls")  # sorted for deterministic fold order
    )
    sub = F.aggregate(
        F.coalesce("tbls", F.array().cast("array<struct<table_id:string,content:string>>")),
        F.col("markdown"),
        lambda acc, t: F.replace(
            acc,
            F.concat(F.lit("["), t["table_id"], F.lit("]("),
                     t["table_id"], F.lit(")")),
            t["content"],
        ),
    )
    return (
        md_df.join(tmap, "doc_id", "left")
        .select("doc_id", sub.alias("markdown"))
    )


def assemble_markdown(spans_df: DataFrame) -> DataFrame:
    """U1/M10 page-assembly inverse: ordered spans → one markdown string per
    doc via collect_list over a window — pure relational, no UDF."""
    return (
        spans_df.where((F.col("text") != "") | (F.col("kind") == "image"))
        .withColumn(
            "piece",
            F.when(F.col("kind") == "image",
                   F.concat(F.lit("!["), F.lit("]("), F.col("media_ref"), F.lit(")")))
            .otherwise(F.col("text")),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("offset", "piece"))
                    ),
                    lambda s: s["piece"],
                ),
                "\n\n",
            ).alias("markdown")
        )
    )
