"""Canonical schemas for the PySpark-native document-extraction engine.

Derived from the reference data model (see SURVEY.md §1):
  - span sequence:   /root/reference/src/pdf_parse_bench/synth_pdf/content.py:36-115
  - layout blocks:   /root/reference/parsers/dots_ocr/__main__.py:125-142
  - result rows:     /root/reference/src/pdf_parse_bench/eval/llm_judge.py:22-51

The primary input shape (BASELINE.json `input_hint`):
  documents(doc_id: string,
            spans: array<struct<kind:string, text:string,
                                media_ref:string, offset:int>>)
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Span-level model (the central data model)
# ---------------------------------------------------------------------------

SPAN_KINDS = ("text", "inline-formula", "display-formula", "table", "image")

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)

# Exploded golden oracle (FIXTURES.md §2). `complexity` is set for tables
# only ('simple'|'moderate'|'complex', reference eval/llm_judge.py:45).
GOLDEN_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("complexity", T.StringType(), True),
    ]
)

EXTRACTED_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Layout-block intermediate model (reference dots_ocr block model)
# ---------------------------------------------------------------------------

LAYOUT_CATEGORIES = (
    "Caption",
    "Footnote",
    "Formula",
    "List-item",
    "Page-footer",
    "Page-header",
    "Picture",
    "Section-header",
    "Table",
    "Text",
    "Title",
)

LAYOUT_BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("bbox", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("category", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Mid-pipeline entry (externally produced markdown; reference README.md:181-216)
# ---------------------------------------------------------------------------

PARSED_MARKDOWN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("markdown", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Raw-PDF entry (binary source; reference pipeline/pipeline.py:68)
# ---------------------------------------------------------------------------

PDF_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("pdf_bytes", T.BinaryType(), False),
    ]
)

PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Scores / metrics model (reference eval/llm_judge.py:22-51)
# ---------------------------------------------------------------------------

EXTRACTION_SCORES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("complexity", T.StringType(), True),
        T.StructField("parser_name", T.StringType(), False),
        T.StructField("judge_model", T.StringType(), False),
        T.StructField("score", T.IntegerType(), False),
        T.StructField("raw_response", T.StringType(), False),
        T.StructField("errors", T.ArrayType(T.StringType(), False), False),
    ]
)
