"""Markdown → ordered span sequence (the unguided extraction kernel).

Inverts parser-style markdown into the canonical span model: display math
(``$$..$$`` / ``\\[..\\]``), LaTeX tabular environments, image refs
(``![alt](ref)``), inline math (``$..$``), and residual text paragraphs.
Semantics follow the reference's block→markdown emission
(parsers/dots_ocr/__main__.py:72-99) and M7 delimiter canonicalization
(:35-57); grouped display runs are split deterministically
(segment_extractor.py:433-604 replacement, see textnorm.split_grouped_formula).

Boilerplate (page header/footer lines) is removed by membership in a
corpus-derived set — the Spark pipeline computes that set with a repeated
first/last-line aggregation (P2: north_star's repeated-line suppression)
and broadcasts it into this kernel.
"""

from __future__ import annotations

import re

from pdf_parse_bench_spark.kernels.textnorm import (
    normalize_display_formula,
    split_grouped_formula,
)

# every branch starts with \, $ or !: the lookahead rejects any other
# position before the scan tries the four branches there
_BLOCK_RE = re.compile(
    r"(?=[\\$!])(?:"
    r"(?P<table>\\begin\{tabular\}.*?\\end\{tabular\})"
    r"|(?P<display>\$\$.*?\$\$|\\\[.*?\\\])"
    r"|(?P<image>!\[[^\]\n]*\]\([^)\s]+\))"
    r"|(?P<inline>\$[^$\n]+?\$))",
    re.S,
)
_IMAGE_REF_RE = re.compile(r"!\[[^\]\n]*\]\(([^)\s]+)\)")
_PARA_SPLIT_RE = re.compile(r"\n\s*\n")


def parse_markdown(markdown: str, boilerplate: frozenset[str] = frozenset()) -> list[dict]:
    """Parse one document's markdown into ordered spans.

    Returns list of dicts (kind, text, media_ref, offset).
    """
    spans: list[dict] = []

    def emit_text(chunk: str) -> None:
        for para in _PARA_SPLIT_RE.split(chunk):
            p = para.strip()
            if not p or p in boilerplate:
                continue
            spans.append({"kind": "text", "text": p, "media_ref": ""})

    pos = 0
    for m in _BLOCK_RE.finditer(markdown):
        if m.start() > pos:
            emit_text(markdown[pos:m.start()])
        pos = m.end()
        if m.lastgroup == "table":
            spans.append({"kind": "table", "text": m.group().strip(), "media_ref": ""})
        elif m.lastgroup == "display":
            canon = normalize_display_formula(m.group())
            inner = canon[2:-2]
            if "\\\\" in inner:
                for part in split_grouped_formula(inner):
                    spans.append({"kind": "display-formula",
                                  "text": "$$" + part + "$$", "media_ref": ""})
            else:
                spans.append({"kind": "display-formula", "text": canon,
                              "media_ref": ""})
        elif m.lastgroup == "image":
            ref = _IMAGE_REF_RE.match(m.group()).group(1)
            spans.append({"kind": "image", "text": "", "media_ref": ref})
        else:  # inline math — emitted verbatim (golden keeps inner spacing)
            spans.append({"kind": "inline-formula", "text": m.group(),
                          "media_ref": ""})
    if pos < len(markdown):
        emit_text(markdown[pos:])
    for i, s in enumerate(spans):
        s["offset"] = i
    return spans
