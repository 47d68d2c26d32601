"""Unit tests for the pure pandas/NumPy kernels (no SparkSession).

Covers SURVEY.md §5(a): delimiter normalization M7, fuzzy alignment J2
(15% threshold + boundary refinement), grouped split J5, boilerplate strip
P2, span sequencing W3, plus property tests for the Levenshtein kernel.
"""

from __future__ import annotations

import re

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st

from pdf_parse_bench_spark.fixtures import _boilerplate_lines
from pdf_parse_bench_spark.kernels.alignment import (
    align_spans,
    find_original_segment,
    levenshtein,
)
from pdf_parse_bench_spark.kernels.layout import blocks_to_spans, reading_order
from pdf_parse_bench_spark.kernels import markdown as markdown_kernel
from pdf_parse_bench_spark.kernels.markdown import parse_markdown
from pdf_parse_bench_spark.kernels.pdftext import extract_pdf_text
from pdf_parse_bench_spark.kernels.textnorm import (
    formula_delimiter_bonus,
    normalize_display_formula,
    normalize_for_matching,
    parse_score,
    preprocess_unicode,
    split_grouped_formula,
    strip_delimiters,
    unescape_control,
)


# ---------------------------------------------------------------------------
# textnorm (M7/F1-F5/J5)
# ---------------------------------------------------------------------------

def test_normalize_display_variants():
    assert normalize_display_formula("$$x+y$$") == "$$x+y$$"
    assert normalize_display_formula("\\[ x+y \\]") == "$$x+y$$"
    assert normalize_display_formula("$$\nx+y\n$$") == "$$x+y$$"
    assert normalize_display_formula("x+y") == "$$x+y$$"


def test_strip_delimiters_ordered():
    assert strip_delimiters("$$a$$") == ("$$", "a", "$$")
    assert strip_delimiters("$a$") == ("$", "a", "$")
    assert strip_delimiters("\\[a\\]") == ("\\[", "a", "\\]")
    assert strip_delimiters("plain") == ("", "plain", "")


def test_split_grouped_plain_and_aligned():
    assert split_grouped_formula("a=1 \\\\ b=2") == ["a=1", "b=2"]
    assert split_grouped_formula(
        "\\begin{aligned} a=1 \\\\ b=2 \\end{aligned}"
    ) == ["a=1", "b=2"]
    assert split_grouped_formula("\\begin{gathered}x\\end{gathered}") == ["x"]


def test_preprocess_unicode():
    assert preprocess_unicode("x₀ + y²") == "x_0 + y^2"


def test_unescape_control_lookahead():
    # \n unescapes, \nabla does not (segment_extractor.py:654-657)
    assert unescape_control("a\\n b") == "a\n b"
    assert unescape_control("\\nabla x") == "\\nabla x"
    assert unescape_control("a\\t 1") == "a\t 1"
    assert unescape_control("\\theta") == "\\theta"


def test_normalize_for_matching():
    assert normalize_for_matching("a \\alpha\t b\nc") == "aalphabc"


def test_parse_score_clamp():
    assert parse_score("Score: 7 good") == 7
    assert parse_score("12 way too high") == 10
    assert parse_score("-3 bad") == 0
    assert parse_score("no digits") == 0


def test_delimiter_bonus():
    assert formula_delimiter_bonus("$$x$$") == 2.5
    assert formula_delimiter_bonus("$x$") == 1.5
    assert formula_delimiter_bonus("x") == 0.0


# ---------------------------------------------------------------------------
# Levenshtein (J2 kernel) — property-tested against a naive DP
# ---------------------------------------------------------------------------

def _naive_lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(prev + (ca != cb), dp[j] + 1, dp[j - 1] + 1)
    return dp[-1]


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab$\\ x", max_size=25),
       st.text(alphabet="ab$\\ x", max_size=25))
def test_levenshtein_matches_naive(a, b):
    assert levenshtein(a, b) == _naive_lev(a, b)


def test_fuzzy_find_within_tolerance():
    gt = "$\\sum_{i=0}^{n} w_i x^i$"
    md = "prose before $\\sum_{i=0}^{n}w_ix^i$ prose after"
    found = find_original_segment(gt, md)
    assert found is not None
    assert "\\sum" in found and found.startswith("$") and found.endswith("$")


def test_fuzzy_find_rejects_beyond_tolerance():
    gt = "$\\alpha + \\beta + \\gamma + \\delta$"
    md = "completely unrelated text with no formula at all whatsoever"
    assert find_original_segment(gt, md) is None


def test_fuzzy_boundary_refinement_prefers_delimiters():
    gt = "$x_{1}+y_{2}$"
    md = "text $x_{1}+y_{2}$ more"
    found = find_original_segment(gt, md)
    assert found == "$x_{1}+y_{2}$"


# ---------------------------------------------------------------------------
# markdown kernel — golden round-trip + boilerplate + properties
# ---------------------------------------------------------------------------

def test_markdown_roundtrip_exact(fx_smoke):
    md = pq.read_table(fx_smoke / "parsed_markdown.parquet").to_pandas()
    gs = pq.read_table(fx_smoke / "golden_spans.parquet").to_pandas()
    import duckdb
    srcs = [r[0] for r in duckdb.sql(
        "select distinct source from '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()]
    bp = frozenset(l for s in srcs for l in _boilerplate_lines(s))
    by_doc = dict(zip(md.doc_id, md.markdown))
    for doc_id, grp in gs.groupby("doc_id"):
        want = grp.sort_values("offset")[["kind", "text", "media_ref"]].to_dict("records")
        got = [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]}
            for s in parse_markdown(by_doc[doc_id], bp)
        ]
        assert got == want, doc_id


def test_markdown_offsets_dense():
    spans = parse_markdown("a\n\n$$x$$\n\nb")
    assert [s["offset"] for s in spans] == list(range(len(spans)))
    assert [s["kind"] for s in spans] == ["text", "display-formula", "text"]


def test_boilerplate_dropped():
    bp = frozenset({"HEADER LINE"})
    spans = parse_markdown("HEADER LINE\n\nreal content", bp)
    assert [s["text"] for s in spans] == ["real content"]


def test_grouped_display_split_in_markdown():
    spans = parse_markdown("$$a=1 \\\\ b=2$$")
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("display-formula", "$$a=1$$"),
        ("display-formula", "$$b=2$$"),
    ]


def test_tabular_not_split_on_row_separators():
    tab = "\\begin{tabular}{lr}\na & 1 \\\\\nb & 2 \\\\\n\\end{tabular}"
    spans = parse_markdown(tab)
    assert len(spans) == 1 and spans[0]["kind"] == "table"
    assert spans[0]["text"] == tab


# the block pattern before its start-character lookahead
_PLAIN_BLOCK_RE = re.compile(
    r"(?P<table>\\begin\{tabular\}.*?\\end\{tabular\})"
    r"|(?P<display>\$\$.*?\$\$|\\\[.*?\\\])"
    r"|(?P<image>!\[[^\]\n]*\]\([^)\s]+\))"
    r"|(?P<inline>\$[^$\n]+?\$)",
    re.S,
)


def test_block_scan_lookahead_changes_no_span(fx_smoke, monkeypatch):
    """The start-character lookahead on the block pattern gives the same
    spans as the plain pattern, on every fixture document and on texts
    that end inside a block or start one with nothing after it."""
    docs = pq.read_table(fx_smoke / "parsed_markdown.parquet",
                         columns=["markdown"]).column(0).to_pylist()
    edges = ["$", "\\", "$$", "$$x", "a $$ b", "$$x$", "\\[x", "\\begin{tabular}",
             "![", "text ![", "![a](", "![a](b", "![a](b)", "$x$ $", "$ x\n$",
             "!$x$", "\\$x$", "\\\\[x\\]", "$$a$$b$$", ""]
    new = [parse_markdown(d) for d in docs + edges]
    monkeypatch.setattr(markdown_kernel, "_BLOCK_RE", _PLAIN_BLOCK_RE)
    assert [parse_markdown(d) for d in docs + edges] == new
    assert any(s["kind"] != "text" for spans in new for s in spans)


# ---------------------------------------------------------------------------
# alignment (guided) — order preservation + no double-match
# ---------------------------------------------------------------------------

def test_align_spans_order_preserving_and_consuming():
    golden = [
        {"kind": "inline-formula", "text": "$x$", "media_ref": ""},
        {"kind": "text", "text": "Hello world.", "media_ref": ""},
        {"kind": "inline-formula", "text": "$x$", "media_ref": ""},
    ]
    md = "$x$\n\nHello world.\n\n$x$"
    out = align_spans(golden, md)
    assert [s["matched"] for s in out] == [True, True, True]
    assert [s["offset"] for s in out] == [0, 1, 2]


def test_align_spans_missing_yields_empty():
    golden = [
        {"kind": "table", "text": "\\begin{tabular}{l}\nz \\\\\n\\end{tabular}",
         "media_ref": ""},
    ]
    out = align_spans(golden, "no table here")
    assert out[0]["matched"] is False and out[0]["text"] == ""


# ---------------------------------------------------------------------------
# layout kernel
# ---------------------------------------------------------------------------

def test_reading_order_two_columns():
    # two columns with interleaved y; gutter (20pt) wider than y-gaps
    bboxes = [
        [307, 60, 545, 80],   # right top
        [50, 60, 287, 80],    # left top
        [50, 90, 287, 110],   # left bottom
        [307, 90, 545, 110],  # right bottom
    ]
    order = reading_order(bboxes)
    assert order == [1, 2, 0, 3]


def test_reading_order_single_column_by_y():
    bboxes = [[50, 300, 545, 320], [50, 60, 545, 80], [50, 180, 545, 200]]
    assert reading_order(bboxes) == [1, 2, 0]


def test_prose_gutter_rescue_cuts_hidden_columns():
    # two prose columns (gutter 287..307) whose gutter is bridged by
    # floating table rows (x 150..350): no all-boxes x-gap exists and the
    # y-gaps are uniform, so without the rescue the banded fallback
    # x-interleaves the columns line by line. With prose/table masks the
    # long prose lines alone expose the gutter -> column-major order.
    import numpy as np
    bboxes = [
        [50, 60, 287, 72],     # 0 left prose
        [307, 60, 545, 72],    # 1 right prose
        [50, 84, 287, 96],     # 2 left prose
        [307, 84, 545, 96],    # 3 right prose
        [150, 108, 350, 120],  # 4 table row (bridges gutter)
        [150, 132, 350, 144],  # 5 table row
        [150, 156, 350, 168],  # 6 table row
        [50, 180, 287, 192],   # 7 left prose (below the float)
        [307, 108, 545, 120],  # 8 right prose (flows beside the float)
        [307, 132, 545, 144],  # 9 right prose
        [307, 156, 545, 168],  # 10 right prose
        [307, 180, 545, 192],  # 11 right prose
    ]
    tmask = np.zeros(12, dtype=bool)
    tmask[[4, 5, 6]] = True
    pmask = ~tmask
    order = reading_order(bboxes, table_mask=tmask, prose_mask=pmask)
    pos = {i: k for k, i in enumerate(order)}
    # column-major: every left-column prose line before every right one
    assert max(pos[i] for i in (0, 2, 7)) < min(
        pos[i] for i in (1, 3, 8, 9, 10, 11))
    # prose lines within a column stay contiguous (no table row between)
    assert pos[2] == pos[0] + 1 and pos[7] == pos[2] + 1


def test_satellite_band_merges_into_its_line():
    # display math embedded in a paragraph: the sum-limit / denominator
    # boxes sit BETWEEN the prose baselines and would band separately,
    # splitting the wrapped sentence. An all-non-prose band overlapping
    # its predecessor's y-extent merges in at its inline x position.
    import numpy as np
    bboxes = [
        [50, 100, 205, 110],   # 0 prose, line 1 left
        [200, 100, 240, 110],  # 1 math main (x-overlaps 0 -> no x-cut)
        [202, 106, 238, 113],  # 2 math satellite (sub-baseline)
        [235, 100, 400, 110],  # 3 prose, line 1 right
        [50, 112, 400, 122],   # 4 prose, line 2
    ]
    pmask = np.array([1, 0, 0, 1, 1], dtype=bool)
    order = reading_order(bboxes, prose_mask=pmask)
    assert order == [0, 1, 2, 3, 4]  # satellite inline, not between lines


def test_float_lift_absorbs_table_furniture():
    # a floating table y-interleaved with single-column prose: its rows
    # plus short furniture (caption, header fragment) lift out as one
    # block, so the surrounding prose lines stay contiguous.
    import numpy as np
    bboxes = [
        [50, 60, 400, 72],     # 0 prose
        [50, 84, 400, 96],     # 1 prose (table starts beside/below)
        [120, 90, 200, 100],   # 2 caption "(a) COCO" (short, absorbed)
        [100, 108, 380, 120],  # 3 table row
        [100, 132, 380, 144],  # 4 table row
        [100, 156, 380, 168],  # 5 table row
        [50, 150, 400, 162],   # 6 prose (y-interleaved with rows)
        [50, 174, 400, 186],   # 7 prose
    ]
    tmask = np.zeros(8, dtype=bool)
    tmask[[3, 4, 5]] = True
    pmask = np.zeros(8, dtype=bool)
    pmask[[0, 1, 6, 7]] = True
    order = reading_order(bboxes, table_mask=tmask, prose_mask=pmask)
    pos = {i: k for k, i in enumerate(order)}
    # prose stays contiguous; lifted cluster (rows + caption) follows
    assert [i for i in order if i in (0, 1, 6, 7)] == [0, 1, 6, 7]
    assert pos[7] < min(pos[i] for i in (2, 3, 4, 5))
    # cluster kept together
    cluster_pos = sorted(pos[i] for i in (2, 3, 4, 5))
    assert cluster_pos == list(range(cluster_pos[0], cluster_pos[0] + 4))


def test_blocks_to_spans_strips_boilerplate_keeps_media(fx_smoke):
    blocks = [
        {"page_no": 0, "bbox": [50, 18, 545, 34], "category": "Page-header", "text": "hdr"},
        {"page_no": 0, "bbox": [50, 60, 545, 90], "category": "Title", "text": "T"},
        {"page_no": 0, "bbox": [50, 100, 545, 200], "category": "Picture", "text": "p.png"},
        {"page_no": 0, "bbox": [50, 806, 545, 820], "category": "Page-footer", "text": "ftr"},
    ]
    spans = blocks_to_spans(blocks)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == [
        ("text", "T", ""), ("image", "", "p.png"),
    ]


def test_layout_roundtrip_exact(fx_smoke):
    lb = pq.read_table(fx_smoke / "layout_blocks.parquet").to_pandas()
    gl = pq.read_table(fx_smoke / "golden_layout_spans.parquet").to_pandas()
    for doc_id, grp in list(lb.groupby("doc_id"))[:100]:
        got = blocks_to_spans(grp[["page_no", "bbox", "category", "text"]].to_dict("records"))
        want = gl[gl.doc_id == doc_id].sort_values("offset")[
            ["kind", "text", "media_ref"]].to_dict("records")
        got = [{"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]}
               for s in got]
        assert got == want, doc_id


# ---------------------------------------------------------------------------
# pdf tokenizer
# ---------------------------------------------------------------------------

def test_pdf_roundtrip_exact(fx_smoke):
    pdfs = pq.read_table(fx_smoke / "pdf_docs.parquet").to_pandas()
    gold = pq.read_table(fx_smoke / "golden_pdf_text.parquet").to_pandas()
    gold = dict(zip(gold.doc_id, gold.text))
    for r in pdfs.itertuples(index=False):
        assert extract_pdf_text(bytes(r.pdf_bytes)) == gold[r.doc_id], r.doc_id


def test_pdf_escapes():
    from pdf_parse_bench_spark.fixtures import generate_pdf
    spans = [{"kind": "text", "text": "parens (and) back\\slash", "media_ref": "",
              "offset": 0, "complexity": None}]
    pdf, golden, _spans, _scheme, _imgs = generate_pdf(3, spans)
    # the generator may prepend a decoration line; the content line must
    # round-trip exactly
    assert extract_pdf_text(pdf) == golden
    assert "parens (and) back\\slash" in golden.splitlines()


def test_pdf_empty():
    assert extract_pdf_text(b"%PDF-1.4\nnothing here") == ""


# ---------------------------------------------------------------------------
# HTML/DOM kernel (M4 analog)
# ---------------------------------------------------------------------------

def test_html_roundtrip_exact(fx_smoke):
    from pdf_parse_bench_spark.kernels.htmldoc import parse_html
    hd = pq.read_table(fx_smoke / "html_documents.parquet").to_pandas()
    gs = pq.read_table(fx_smoke / "golden_spans.parquet").to_pandas()
    by_doc = dict(zip(hd.doc_id, hd.html))
    for doc_id, grp in list(gs.groupby("doc_id"))[:150]:
        want = grp.sort_values("offset")[["kind", "text", "media_ref"]].to_dict("records")
        got = [{"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]}
               for s in parse_html(by_doc[doc_id])]
        assert got == want, doc_id


def test_html_boilerplate_subtrees_stripped():
    from pdf_parse_bench_spark.kernels.htmldoc import parse_html
    html = (
        "<body><header>site chrome</header>"
        "<nav><a href='#'>x</a><p>menu para</p></nav>"
        "<script>var x = '<p>not content</p>';</script>"
        "<main><p>real content</p></main>"
        "<footer><p>legal</p></footer></body>"
    )
    spans = parse_html(html)
    assert [(s["kind"], s["text"]) for s in spans] == [("text", "real content")]


def test_html_void_elements_inside_boilerplate_do_not_desync():
    """Regression: a non-self-closed <img>/<br>/<meta> inside a stripped
    subtree must not bump the skip depth (html.parser never emits their end
    tags) — the rest of the document was silently dropped."""
    from pdf_parse_bench_spark.kernels.htmldoc import parse_html
    html = (
        "<body><header><img src='logo.png'><br><meta charset='utf-8'>"
        "chrome</header><main><p>Real content</p></main></body>"
    )
    assert [(s["kind"], s["text"]) for s in parse_html(html)] == [
        ("text", "Real content")]
    # symmetric: an explicit </img> end tag inside chrome must not desync
    html2 = ("<body><nav><img src='x.png'></img>menu</nav>"
             "<main><p>Kept</p></main></body>")
    assert [(s["kind"], s["text"]) for s in parse_html(html2)] == [
        ("text", "Kept")]


def test_window_scan_matches_full_slide():
    """The strided scan must find the same minimum as an exhaustive
    stride-1 slide (the reference's loop, segment_extractor.py:670-675)."""
    import random as _r
    from pdf_parse_bench_spark.kernels.alignment import _window_scan, levenshtein
    rng = _r.Random(5)
    alpha = "abcdef"
    for _ in range(25):
        hay = "".join(rng.choice(alpha) for _ in range(rng.randint(40, 140)))
        i = rng.randint(0, len(hay) - 20)
        needle = list(hay[i:i + rng.randint(12, 20)])
        for _ in range(rng.randint(0, 3)):  # corrupt a few chars
            needle[rng.randrange(len(needle))] = rng.choice(alpha)
        needle = "".join(needle)
        s, d = _window_scan(needle, hay)
        full = min(
            (levenshtein(needle, hay[st:st + len(needle)]), st)
            for st in range(0, len(hay) - len(needle) + 1)
        )
        assert d == full[0], (needle, hay, (s, d), full)


def test_tei_walker_abstract_body_and_chrome():
    from pdf_parse_bench_spark.kernels.teidoc import parse_tei
    tei = (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><profileDesc>'
        "<abstract><p>The abstract.</p></abstract></profileDesc></teiHeader>"
        "<text><body><div>"
        '<note place="headnote">chrome line</note>'
        "<head>Section 1</head>"
        '<p>Before <formula rend="inline">x_{1}</formula> after.</p>'
        "<formula> \\sum_{i} w_i </formula>"
        '<figure type="table"><table>r &amp; 1 \\\\</table></figure>'
        '<figure><graphic url="page_1_2_3_4.png"/></figure>'
        '<note place="footnote">page 1</note>'
        "</div></body></text></TEI>"
    )
    spans = parse_tei(tei)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == [
        ("text", "The abstract.", ""),
        ("text", "Section 1", ""),
        ("text", "Before", ""),
        ("inline-formula", "$x_{1}$", ""),
        ("text", "after.", ""),
        ("display-formula", "$$\\sum_{i} w_i$$", ""),
        ("table", "r & 1 \\\\", ""),
        ("image", "", "page_1_2_3_4.png"),
    ]
    assert [s["offset"] for s in spans] == list(range(8))


def test_tei_nested_divs_and_bad_xml():
    from pdf_parse_bench_spark.kernels.teidoc import parse_tei
    tei = ("<TEI><text><body><div><head>Outer</head>"
           "<div><p>Inner para.</p></div></div></body></text></TEI>")
    assert [(s["kind"], s["text"]) for s in parse_tei(tei)] == [
        ("text", "Outer"), ("text", "Inner para.")]
    assert parse_tei("<TEI><unclosed>") == []
    assert parse_tei("not xml at all") == []


def test_html_entities_and_inline_math():
    from pdf_parse_bench_spark.kernels.htmldoc import parse_html
    html = ('<body><main><p>a &amp; b <span class="math">$x&lt;y$</span> c</p>'
            '<pre class="tabular">r &amp; 1 \\\\</pre></main></body>')
    spans = parse_html(html)
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("text", "a & b"), ("inline-formula", "$x<y$"), ("text", "c"),
        ("table", "r & 1 \\\\"),
    ]


# ---------------------------------------------------------------------------
# Property tests: render/parse round-trips on arbitrary seeded corpora
# ---------------------------------------------------------------------------

_LATIN1_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                           blacklist_characters="\x7f"),
    min_size=1, max_size=60,
).map(lambda s: s.strip()).filter(lambda s: s)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=30_000, max_value=30_999),
       st.lists(_LATIN1_TEXT, min_size=1, max_size=25))
def test_pdf_roundtrip_property(doc_id, texts):
    """Arbitrary latin-1 text lines survive generate_pdf → extract_pdf_text
    across every content dialect the generator emits (Tm/Td/T*/TJ/hex,
    octal escapes, compression, split streams, deco fonts)."""
    from pdf_parse_bench_spark.fixtures import generate_pdf
    spans = [{"kind": "text", "text": t, "media_ref": "", "offset": i,
              "complexity": None} for i, t in enumerate(texts)]
    pdf, golden, golden_spans, _scheme, _imgs = generate_pdf(doc_id, spans)
    assert extract_pdf_text(pdf) == golden
    # the span golden agrees with the text golden line-for-line (image
    # spans carry no text and are absent from the text golden)
    assert "\n".join(s["text"] for s in golden_spans
                     if s["kind"] != "image") == golden


_XML_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF,
                           blacklist_characters="\x7f"),
    min_size=1, max_size=60,
).map(lambda s: " ".join(s.split())).filter(lambda s: s)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=40_000, max_value=40_999),
       st.lists(_XML_TEXT, min_size=2, max_size=20))
def test_tei_roundtrip_property(doc_id, texts):
    """Arbitrary unicode text lines survive render_tei → parse_tei
    (abstract + div grouping + head/p packing + note chrome)."""
    from pdf_parse_bench_spark.fixtures import render_tei
    from pdf_parse_bench_spark.kernels.teidoc import parse_tei
    spans = [{"kind": "text", "text": t, "media_ref": "", "offset": i,
              "complexity": None} for i, t in enumerate(texts)]
    tei = render_tei(doc_id, spans, "srcT")
    got = parse_tei(tei)
    assert [(s["kind"], s["text"]) for s in got] == [
        ("text", s["text"]) for s in spans]


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=10_000, max_value=10_999),
       st.sampled_from(["alpha beta gamma delta", "spark scan join filter row"]))
def test_markdown_roundtrip_property(doc_id, words):
    from pdf_parse_bench_spark.fixtures import (
        _boilerplate_lines, generate_doc_spans, render_markdown,
    )
    spans = generate_doc_spans(doc_id, words)
    md = render_markdown(doc_id, spans, "srcP")
    bp = frozenset(_boilerplate_lines("srcP"))
    got = parse_markdown(md, bp)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in got] == [
        (s["kind"], s["text"], s["media_ref"]) for s in spans
    ]


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=20_000, max_value=20_999))
def test_html_roundtrip_property(doc_id):
    from pdf_parse_bench_spark.fixtures import generate_doc_spans, render_html
    from pdf_parse_bench_spark.kernels.htmldoc import parse_html
    spans = generate_doc_spans(doc_id, "one two three four five six")
    html = render_html(doc_id, spans, "srcQ")
    got = parse_html(html)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in got] == [
        (s["kind"], s["text"], s["media_ref"]) for s in spans
    ]


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=30_000, max_value=30_999))
def test_noisy_alignment_property(doc_id):
    from pdf_parse_bench_spark.fixtures import generate_doc_spans, render_noisy
    spans = generate_doc_spans(doc_id, "red green blue cyan magenta yellow")
    md, expected = render_noisy(doc_id, spans)
    golden = [{"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]}
              for s in spans]
    out = align_spans(golden, md)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in out] == [
        (e["kind"], e["text"], e["media_ref"]) for e in expected
    ]


def test_preprocess_unicode_long_tail():
    """F1 long tail (formula_renderer.py:33-65 / pylatexenc surface):
    Greek, math symbols, precomposed accents AND combining accents on
    ASCII bases all convert; kernel and Spark expression share the table."""
    from pdf_parse_bench_spark.kernels.textnorm import preprocess_unicode

    assert preprocess_unicode("α×β") == "{\\alpha}{\\times}{\\beta}"
    assert preprocess_unicode("π²+θ₃≤∞") == "{\\pi}^2+{\\theta}_3{\\leq}{\\infty}"
    assert preprocess_unicode("é") == "\\'{e}"          # precomposed
    assert preprocess_unicode("é") == "\\'{e}"         # combining
    assert preprocess_unicode("ü = ü") == '\\"{u} = \\"{u}'
    assert preprocess_unicode("x̄y̌") == "\\={x}\\v{y}"
    assert preprocess_unicode("plain ascii") == "plain ascii"
