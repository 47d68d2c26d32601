"""Scalar column-expression library (the F1-F5 functions as JVM-side
expressions — no Python in the hot path; kernels/textnorm.py holds the
pandas-side twins used inside UDF batches)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def round_half_up(col: Column, digits: int = 6) -> Column:
    """Engine-portable decimal rounding: floor(x*10^d + 0.5)/10^d on IEEE
    doubles gives bit-identical results in Spark and DuckDB, unlike each
    engine's native round() whose tie-breaking differs on binary boundaries."""
    scale = float(10 ** digits)
    return F.floor(col * scale + F.lit(0.5)) / scale


def epoch_seconds(col_name: str) -> Column:
    """Timezone-free whole epoch seconds for TIMESTAMP_NTZ columns (parquet
    timestamps read as NTZ). Truncates sub-second fractions — use
    epoch_micros for columns carrying microseconds. DuckDB twin:
    CAST(floor(epoch(col)) AS BIGINT)."""
    return F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col_name})"
    )


def epoch_micros(col_name: str) -> Column:
    """Exact epoch microseconds for TIMESTAMP_NTZ columns. DuckDB twin:
    epoch_us(col)."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col_name})"
    )

# F4: first integer in a judge response, clamped to [0, 10]
# (eval/llm_judge.py:133-140)
def parse_score_expr(col: str = "raw_response") -> Column:
    raw = F.regexp_extract(col, r"(-?\d+)", 1)
    n = F.when(raw == "", F.lit(0)).otherwise(raw.cast("int"))
    return F.least(F.greatest(n, F.lit(0)), F.lit(10))


# F3: strip all whitespace + backslashes (segment_extractor.py:660-661)
def normalize_for_matching_expr(col: str = "text") -> Column:
    return F.regexp_replace(col, r"[\s\\]+", "")


# M7/F5 (relational flavor): \[..\] → $$..$$ with inner trim
def normalize_display_expr(col: str = "text") -> Column:
    inner = F.when(
        F.col(col).startswith("\\[") & F.col(col).endswith("\\]"),
        F.expr(f"substring({col}, 3, length({col}) - 4)"),
    ).when(
        F.col(col).startswith("$$") & F.col(col).endswith("$$"),
        F.expr(f"substring({col}, 3, length({col}) - 4)"),
    ).otherwise(F.col(col))
    return F.concat(F.lit("$$"), F.trim(inner), F.lit("$$"))


# F1: unicode → LaTeX (formula_renderer.py:33-65): sub/superscript digits
# plus the pylatexenc long tail (Greek / symbols / accents) — the SAME
# table as the python kernel (kernels/textnorm.py).
#
# Architecture note (r4): the r3 version chained one replace() per table
# entry. At ~230 entries that compiled; at 400 (the completed long tail)
# the 400-deep nested Column tree overflowed the driver-side expression
# converter stack and would eventually hit Janino's 64KB method limit —
# depth does not scale with table size. This version is WIDE instead of
# DEEP: all single-char entries become one literal MAP (constant-folded
# once by Catalyst), the string is processed in a single split→lookup→
# join pass, and only the 7 combining-accent rules (which need a
# capture-group regex) stay as a shallow chain. Table growth adds map
# entries, never expression depth — the shape pylatexenc's full ~10k-row
# table would need. Pinned by
# tests/test_plans.py::test_unicode_normalization_single_pass.
_SUB = "₀₁₂₃₄₅₆₇₈₉"
_SUP = "⁰¹²³⁴⁵⁶⁷⁸⁹"


def preprocess_unicode_expr(col: str = "text") -> Column:
    from pdf_parse_bench_spark.kernels.textnorm import (
        COMBINING_LATEX, UNICODE_LATEX_MAP)

    pairs: list[tuple[str, str]] = []
    pairs += [(ch, f"_{i}") for i, ch in enumerate(_SUB)]
    pairs += [(ch, f"^{i}") for i, ch in enumerate(_SUP)]
    pairs += list(UNICODE_LATEX_MAP.items())
    table = F.create_map(*[F.lit(x) for kv in pairs for x in kv])
    # try_element_at: NULL (not an ANSI error) on a miss -> identity char
    out = F.array_join(
        F.transform(F.split(F.col(col), ""),
                    lambda c: F.coalesce(F.try_element_at(table, c), c)),
        "")
    for mark, acc in COMBINING_LATEX.items():
        out = F.regexp_replace(out, f"([A-Za-z]){mark}", f"\\\\{acc}{{$1}}")
    return out


# Table-complexity classification on EXTRACTED tabular spans: body rows =
# '\\' row terminators minus the header row; <=3 simple, <=6 moderate, else
# complex (reference tags GT tables with this label, synth_pdf/content.py:
# 78-86; consumed by eval/llm_judge.py:45 — fixture twin fixtures.py:118).
# Pure codegen. DuckDB twin: len(string_split(text, '\\')) - 2.
def table_complexity_expr() -> Column:
    rows = F.size(F.split(F.col("text"), r"\\\\")) - 2
    return F.when(
        F.col("kind") == "table",
        F.when(rows <= 3, F.lit("simple"))
        .when(rows <= 6, F.lit("moderate"))
        .otherwise(F.lit("complex")),
    )
