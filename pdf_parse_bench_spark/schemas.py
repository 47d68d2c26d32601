"""Canonical schemas for the PySpark-native document-extraction engine.

Derived from the reference data model (see SURVEY.md §1):
  - span sequence:   /root/reference/src/pdf_parse_bench/synth_pdf/content.py:36-115

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

PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)
