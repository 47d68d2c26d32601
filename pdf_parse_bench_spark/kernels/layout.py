"""Layout kernels: XY-cut reading order + block → span emission.

Reproduces the reference's reading-order/boilerplate contract (dots.ocr
block model and markdown conversion, parsers/dots_ocr/__main__.py:72-99,
:125-142) with a deterministic geometric algorithm instead of a VLM:

  - reading_order: recursive XY-cut — split on the *widest* whitespace gap
    (vertical gutter beats horizontal band gaps, so two-column pages order
    column-major); depends only on geometry, never on arrival order
    (SURVEY.md §7 hard part (a)).
  - P2 boilerplate strip: drop Page-header/Page-footer categories
    (dots_ocr/__main__.py:84-86).
  - P3 media policy: keep Picture blocks as kind='image' spans (the
    reference drops them, dots_ocr/__main__.py:87-89).
"""

from __future__ import annotations

import numpy as np

CATEGORY_TO_KIND = {
    "Caption": "text", "Footnote": "text", "Formula": "display-formula",
    "List-item": "text", "Picture": "image", "Section-header": "text",
    "Table": "table", "Text": "text", "Title": "text",
}
BOILERPLATE_CATEGORIES = frozenset({"Page-header", "Page-footer"})

_GAP_EPS = 2.0  # minimum whitespace gap (pt) considered a cut
# narrow-gutter column evidence (wrap-table layouts leave only ~1pt
# between the table edge and the prose column): the cut is allowed below
# _GAP_EPS ONLY when the caller supplies a per-box table-likeness mask
# and the gutter separates a table-like side from a prose side across
# several rows — a pure-geometry version of this rule was measured
# net-negative in round 5 (it mis-cut justified paragraphs whose inline
# math aligned a pseudo-gutter) and the content gate is what fixes that
_XGAP_MIN = 0.5
_MIN_COL_BANDS = 4
# prose-gutter rescue (round 6): a floating wrap-table whose rows bridge
# the two-column gutter leaves NO whitespace gap at all, so the banded
# no-cut fallback x-interleaves the two prose columns line by line. The
# gutter is still visible in the long prose lines alone (>= 4 tokens,
# non-table) — they are the runs typeset to the column measure. When
# those show a clean >= _PROSE_GUTTER_MIN gap with >= 2 prose bands on
# each side, cut there and assign every remaining box (table rows,
# headers, stray fragments) to the side holding most of its x-extent.
_PROSE_GUTTER_MIN = 6.0
# when BOTH a y-cut and an x-cut are available, the x-gap must look like
# a real column gutter to win: an accidental 4pt in-line whitespace
# (inline-equation tail vs the line's last fragment) must not beat a
# 3.6pt line gap and split a line pair mid-sentence. x-gaps narrower
# than this still cut when no y-cut exists (nested sub-column layouts).
_XCUT_MIN = 6.0


def _n_bands(ys: np.ndarray) -> int:
    """Distinct y-bands (top edges more than _GAP_EPS apart)."""
    if len(ys) == 0:
        return 0
    s = np.sort(ys)
    return 1 + int(np.sum(np.diff(s) > _GAP_EPS))


def _largest_gap(starts: np.ndarray, ends: np.ndarray) -> tuple[float, float]:
    """Widest gap in the union of [start, end] intervals.

    Returns (gap_width, cut_position); gap_width <= 0 when none.
    """
    order = np.argsort(starts, kind="stable")
    s, e = starts[order], ends[order]
    max_end = np.maximum.accumulate(e)
    gaps = s[1:] - max_end[:-1]
    if len(gaps) == 0:
        return 0.0, 0.0
    k = int(np.argmax(gaps))
    return float(gaps[k]), float((s[1:][k] + max_end[:-1][k]) / 2.0)


# wrap-table extraction (round 6): a floating table whose rows BRIDGE a
# two-column gutter defeats every cut (no x-gap exists while the rows
# are present; y-band slicing then x-interleaves the columns line by
# line). Evidence gate: >= _WRAP_MIN_ROWS clustered table-like rows
# spanning >= _WRAP_MIN_ROWS bands, straddling a prose-only x-gap of
# >= _WRAP_GUTTER_MIN pt with real prose on BOTH sides.
_WRAP_MIN_ROWS = 3
_WRAP_GUTTER_MIN = 6.0
_WRAP_ROW_GAP = 30.0  # max y gap chaining rows into one cluster


def _seed_clusters(bboxes: np.ndarray,
                   table_mask: np.ndarray) -> list[list[int]]:
    """Chain table-like rows into clusters: sort by top, attach a row to
    any open cluster within _WRAP_ROW_GAP of its lowest row whose x-range
    overlaps (every open cluster is a candidate — two tables
    y-interleaved in different columns must chain independently; a
    last-cluster-only greedy shatters both). Keeps clusters with
    >= _WRAP_MIN_ROWS rows over >= _WRAP_MIN_ROWS bands."""
    t_idx = np.flatnonzero(table_mask)
    order = t_idx[np.argsort(bboxes[t_idx, 1], kind="stable")]
    clusters: list[list[int]] = []
    for i in order:
        b = bboxes[i]
        placed = False
        for c in reversed(clusters):
            if (b[1] - max(bboxes[j][3] for j in c) <= _WRAP_ROW_GAP
                    and min(b[2], max(bboxes[j][2] for j in c))
                    > max(b[0], min(bboxes[j][0] for j in c))):
                c.append(int(i))
                placed = True
                break
        if not placed:
            clusters.append([int(i)])
    return [c for c in clusters
            if len(c) >= _WRAP_MIN_ROWS
            and _n_bands(bboxes[c, 1]) >= _WRAP_MIN_ROWS]


_ABSORB_PAD = 4.0  # x slack when pulling fragments into a float cluster


def _wrap_table_clusters(bboxes: np.ndarray,
                         table_mask: np.ndarray,
                         prose_mask: np.ndarray | None = None
                         ) -> list[np.ndarray]:
    """Floating-table clusters to lift out of the prose flow.

    Seeds are chained table-like rows (_seed_clusters). With a
    prose_mask, each cluster absorbs its furniture — short non-prose
    runs (headers, captions, unit cells, stray fragments) whose x-extent
    overlaps the cluster's padded x-range within one row pitch of its
    y-extent, to fixpoint — and fires when the cluster overlaps a long
    prose line in BOTH axes (the float is interleaved with column text)
    or straddles the long-prose column gutter. Without a prose_mask,
    the round-5 rule is kept: no absorption, fire only on clusters
    straddling the non-table-only gutter. Returns index arrays."""
    t_idx = np.flatnonzero(table_mask)
    if len(t_idx) < _WRAP_MIN_ROWS or not (~table_mask).any():
        return []
    if prose_mask is None:
        p = bboxes[~table_mask]
        gap, cut = _largest_gap(p[:, 0], p[:, 2])
        if gap < _WRAP_GUTTER_MIN:
            return []
        lp, rp = p[p[:, 0] < cut], p[p[:, 0] >= cut]
        if _n_bands(lp[:, 1]) < 2 or _n_bands(rp[:, 1]) < 2:
            return []
        return [np.array(c, dtype=np.int64)
                for c in _seed_clusters(bboxes, table_mask)
                if float(bboxes[c, 0].min()) < cut
                < float(bboxes[c, 2].max())]
    p_idx = np.flatnonzero(prose_mask & ~table_mask)
    if len(p_idx) == 0:
        return []
    pb = bboxes[p_idx]
    pgap, pcut = _largest_gap(pb[:, 0], pb[:, 2])
    gutter_ok = (pgap >= _WRAP_GUTTER_MIN
                 and _n_bands(pb[pb[:, 0] < pcut, 1]) >= 2
                 and _n_bands(pb[pb[:, 0] >= pcut, 1]) >= 2)
    seeds = _seed_clusters(bboxes, table_mask)
    seeds.sort(key=lambda c: (float(bboxes[c, 1].min()),
                              float(bboxes[c, 0].min())))
    in_seed = {j for c in seeds for j in c}
    taken: set[int] = set()
    out = []
    for c in seeds:
        mem = list(c)
        tops = np.sort(bboxes[c, 1])
        pitch = (float(np.median(np.diff(tops)))
                 if len(tops) > 1 else _WRAP_ROW_GAP)
        pitch = max(pitch, _GAP_EPS)
        x1, x2 = float(bboxes[c, 0].min()), float(bboxes[c, 2].max())
        y1, y2 = float(bboxes[c, 1].min()), float(bboxes[c, 3].max())
        changed = True
        while changed:
            changed = False
            for j in range(len(bboxes)):
                if (j in mem or j in taken or j in in_seed
                        or prose_mask[j]):
                    continue
                b = bboxes[j]
                if (min(b[2], x2 + _ABSORB_PAD)
                        > max(b[0], x1 - _ABSORB_PAD)
                        and b[3] >= y1 - pitch and b[1] <= y2 + pitch):
                    mem.append(j)
                    x1, x2 = min(x1, b[0]), max(x2, b[2])
                    y1, y2 = min(y1, b[1]), max(y2, b[3])
                    changed = True
        interleaved = any(
            min(bboxes[j, 2], x2) > max(bboxes[j, 0], x1)
            and min(bboxes[j, 3], y2) > max(bboxes[j, 1], y1)
            for j in p_idx)
        if interleaved or (gutter_ok and x1 < pcut < x2):
            taken.update(mem)
            out.append(np.array(sorted(mem), dtype=np.int64))
    return out


def reading_order(bboxes: np.ndarray,
                  table_mask: np.ndarray | None = None,
                  prose_mask: np.ndarray | None = None,
                  merge_satellites: bool = True) -> list[int]:
    """Return indices of blocks in reading order via recursive XY-cut.

    bboxes: (n, 4) array of [x1, y1, x2, y2], top-left origin, y down.
    table_mask: optional (n,) bool array marking table-like content
    (label + numeric cells); enables (a) the content-gated narrow-gutter
    column cut (see _XGAP_MIN note) and (b) wrap-table extraction —
    gutter-bridging table-row clusters lift out, the prose orders
    column-major through the now-visible gutter, and each cluster's rows
    append as one contiguous row-major block (deterministic: clusters in
    (y, x) order — W2).
    prose_mask: optional (n,) bool array marking long prose lines (the
    runs typeset to the column measure); enables the prose-gutter rescue
    cut inside the no-cut fallback (see _PROSE_GUTTER_MIN note).
    """
    bboxes = np.asarray(bboxes, dtype=np.float64)
    if prose_mask is not None:
        prose_mask = np.asarray(prose_mask, dtype=bool)
    if table_mask is not None and len(bboxes):
        table_mask = np.asarray(table_mask, dtype=bool)
        clusters = _wrap_table_clusters(bboxes, table_mask, prose_mask)
        if clusters:
            lifted = np.concatenate(clusters)
            keep = np.setdiff1d(np.arange(len(bboxes)), lifted)
            order = [int(keep[k]) for k in reading_order(
                bboxes[keep], table_mask[keep],
                None if prose_mask is None else prose_mask[keep],
                merge_satellites)]
            for c in sorted(clusters,
                            key=lambda c: (float(bboxes[c, 1].min()),
                                           float(bboxes[c, 0].min()))):
                order.extend(int(c[k]) for k in reading_order(
                    bboxes[c], table_mask[c],
                    None if prose_mask is None else prose_mask[c],
                    merge_satellites))
            return order
    out: list[int] = []

    def rec(idx: np.ndarray) -> None:
        if len(idx) == 0:
            return
        if len(idx) == 1:
            out.append(int(idx[0]))
            return
        bb = bboxes[idx]
        ygap, ycut = _largest_gap(bb[:, 1], bb[:, 3])
        xgap, xcut = _largest_gap(bb[:, 0], bb[:, 2])
        # prose-gutter rescue: gutter-bridging table rows / header
        # fragments hide the column gutter from the all-boxes x-gap, but
        # the long prose lines alone still show it. Widest-gap-wins with
        # the prose gutter standing in for the hidden x-gap: when it
        # beats both visible gaps, cut there and side-assign every box
        # by x-extent mass. (A full-width prose line — title, heading —
        # sits inside the candidate gap and kills it, so genuinely
        # single-column regions never fire.)
        if (prose_mask is not None and table_mask is not None
                and xgap <= _GAP_EPS):
            pm = prose_mask[idx]
            if int(pm.sum()) >= 4:
                bp = bb[pm]
                pgap, pcut = _largest_gap(bp[:, 0], bp[:, 2])
                if (pgap >= _PROSE_GUTTER_MIN and pgap > ygap
                        and pgap > xgap):
                    lp = bp[:, 0] < pcut
                    # evidence gate: the rescue exists because wrap-table
                    # ROWS hide a real gutter — require >= _WRAP_MIN_ROWS
                    # table-like bridgers over >= _WRAP_MIN_ROWS bands
                    # actually crossing the cut. Math-heavy single-column
                    # pages (wrapped sentence fragments around display
                    # math fake a gutter among the few long prose lines)
                    # have no such rows and must never fire.
                    bridge = (table_mask[idx]
                              & (bb[:, 0] < pcut) & (bb[:, 2] > pcut))
                    if (int(bridge.sum()) >= _WRAP_MIN_ROWS
                            and _n_bands(bb[bridge, 1]) >= _WRAP_MIN_ROWS
                            and _n_bands(bp[lp, 1]) >= 2
                            and _n_bands(bp[~lp, 1]) >= 2):
                        lmass = np.minimum(bb[:, 2], pcut) - bb[:, 0]
                        rmass = bb[:, 2] - np.maximum(bb[:, 0], pcut)
                        lsel = lmass >= rmass
                        if lsel.any() and (~lsel).any():
                            rec(idx[lsel])
                            rec(idx[~lsel])
                            return
        if table_mask is not None and _XGAP_MIN < xgap <= _GAP_EPS:
            lsel = bb[:, 0] < xcut
            lm = table_mask[idx[lsel]]
            rm = table_mask[idx[~lsel]]
            if (_n_bands(bb[lsel, 1]) >= _MIN_COL_BANDS
                    and _n_bands(bb[~lsel, 1]) >= _MIN_COL_BANDS
                    and len(lm) and len(rm)):
                lt, rt = float(lm.mean()), float(rm.mean())
                if (lt >= 0.7 and rt <= 0.3) or (rt >= 0.7 and lt <= 0.3):
                    # table column beside a prose column: split rather
                    # than x-interleave them band by band
                    rec(idx[lsel])
                    rec(idx[~lsel])
                    return
        if max(xgap, ygap) <= _GAP_EPS:
            # no cut: baseline-banded geometric sort — boxes whose top
            # edges chain within _GAP_EPS of each other form one visual
            # line (sub-point baseline jitter from kerning/Tm rounding
            # and sub/superscript boxes must not split a justified line
            # into x-interleaved fragments), bands top-to-bottom, boxes
            # left-to-right within a band
            order = np.argsort(bb[:, 1], kind="stable")
            ys = bb[order, 1]
            band = np.zeros(len(order), dtype=np.int64)
            if len(ys) > 1:
                # chaining diffs <= _GAP_EPS is transitive: a cascade of
                # tops each within 2pt of the next could merge several
                # genuinely distinct baselines, so bound a band's total
                # y-extent to ~1.5 line heights from its first top even
                # when consecutive gaps stay under _GAP_EPS
                heights = bb[:, 3] - bb[:, 1]
                max_extent = max(2.0 * _GAP_EPS,
                                 1.5 * float(np.median(heights)))
                cur = 0
                start = ys[0]
                for j in range(1, len(ys)):
                    if (ys[j] - ys[j - 1] > _GAP_EPS
                            or ys[j] - start > max_extent):
                        cur += 1
                        start = ys[j]
                    band[j] = cur
            if (merge_satellites and prose_mask is not None
                    and band.max() > 0):
                # satellite merge: display math embedded in a paragraph
                # leaves sub-baseline boxes (sum limits, denominators,
                # deep sub/superscripts) BETWEEN the prose baselines —
                # they band separately and break the wrapped sentence. A
                # band with no long prose line whose top starts above its
                # predecessor band's bottom is vertically entangled with
                # that line: merge it in (the x-sort below then slots the
                # fragments at their inline positions). Bands that merely
                # follow each other (table rows, the next prose line)
                # never overlap and keep their own band. (A cluster-and-
                # choose variant that could also merge downward measured
                # WORSE on the reference corpora than this simple upward
                # rule; see history/CHANGES_r06.md.)
                pm_o = prose_mask[idx][order]
                bots = bb[order, 3]
                nb = int(band.max()) + 1
                b_bot = np.full(nb, -np.inf)
                b_top = np.full(nb, np.inf)
                b_prose = np.zeros(nb, dtype=bool)
                for j in range(len(order)):
                    b = band[j]
                    b_bot[b] = max(b_bot[b], bots[j])
                    b_top[b] = min(b_top[b], ys[j])
                    b_prose[b] |= bool(pm_o[j])
                newid = np.arange(nb)
                for b in range(1, nb):
                    if (not b_prose[b]
                            and b_top[b] < b_bot[b - 1] - 0.5):
                        newid[b] = newid[b - 1]
                band = newid[band]
            sub = np.lexsort((bb[order, 0], band))
            out.extend(int(i) for i in idx[order[sub]])
            return
        if xgap > ygap and (ygap <= _GAP_EPS or xgap >= _XCUT_MIN):
            # widest gap wins: vertical gutter → column-major (but see
            # _XCUT_MIN — a hair-wider accidental x-gap must not beat a
            # real line gap)
            left = idx[bb[:, 0] < xcut]
            right = idx[bb[:, 0] >= xcut]
            rec(left)
            rec(right)
        else:
            top = idx[bb[:, 1] < ycut]
            bottom = idx[bb[:, 1] >= ycut]
            rec(top)
            rec(bottom)

    rec(np.arange(len(bboxes)))
    return out


def blocks_to_spans(blocks: list[dict]) -> list[dict]:
    """Per-document: strip boilerplate, order pages then XY-cut within each
    page, map categories to span kinds, emit ordered spans."""
    kept = [b for b in blocks if b["category"] not in BOILERPLATE_CATEGORIES]
    spans: list[dict] = []
    for page in sorted({b["page_no"] for b in kept}):
        page_blocks = [b for b in kept if b["page_no"] == page]
        order = reading_order(np.array([b["bbox"] for b in page_blocks]))
        for i in order:
            b = page_blocks[i]
            kind = CATEGORY_TO_KIND[b["category"]]
            if kind == "image":
                spans.append({"kind": "image", "text": "",
                              "media_ref": b["text"]})
            else:
                spans.append({"kind": kind, "text": b["text"], "media_ref": ""})
    for i, s in enumerate(spans):
        s["offset"] = i
    return spans
