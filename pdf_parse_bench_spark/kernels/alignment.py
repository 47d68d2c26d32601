"""GT-guided alignment kernels (the reference's "extract" stage).

  - J1 exact-match fast path      segment_extractor.py:377-384, :854-858
  - J2 sliding-window fuzzy match segment_extractor.py:628-711
    (normalize → window slide minimizing Levenshtein → map offsets back →
     ±radius boundary refinement → accept iff distance ≤ 15% of length)
  - J3 delimiter bonus            segment_extractor.py:609-625
  - J6 consume-and-strip          segment_extractor.py:384, :857

No rapidfuzz in this environment; ``levenshtein`` is a NumPy row-DP with an
optional early-exit band — O(len_a · len_b) worst case but vectorized per row.
"""

from __future__ import annotations

import numpy as np

from pdf_parse_bench_spark.kernels.markdown import parse_markdown
from pdf_parse_bench_spark.kernels.textnorm import (
    formula_delimiter_bonus,
    normalize_for_matching,
    unescape_control,
)

EDIT_DISTANCE_RATIO = 0.15  # segment_extractor.py:631
SEARCH_RADIUS = 10          # segment_extractor.py:632


def levenshtein(a: str, b: str) -> int:
    """Vectorized row-DP edit distance."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    av = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    bv = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    m = len(bv)
    idx = np.arange(m + 1, dtype=np.int64)
    prev = idx.copy()
    for i, ca in enumerate(av, start=1):
        # candidate without the left-neighbor (insertion) dependency
        c = np.minimum(prev[:-1] + (bv != ca), prev[1:] + 1)
        # cur[j] = min(i + j, min_{1<=k<=j}(c[k-1] + (j - k)))
        #        = minimum.accumulate over (c[k-1] - k), then + j
        t = np.concatenate(([np.int64(i)], c - idx[1:]))
        cur = np.minimum.accumulate(t) + idx
        prev = cur
    return int(prev[-1])


def _window_scan(needle_norm: str, hay_norm: str) -> tuple[int, int]:
    """Slide a len(needle) window over the normalized haystack, return
    (best_start, best_distance) (segment_extractor.py:670-675)."""
    n, h = len(needle_norm), len(hay_norm)
    if n == 0 or h == 0:
        return 0, n or h
    if n >= h:
        return 0, levenshtein(needle_norm, hay_norm)
    best_start, best_dist = 0, n + 1
    # Coarse stride, then refine around every coarse sample that could hide
    # the true minimum. Window-start distance is 2-Lipschitz (shifting by 1
    # drops one char and adds one, each worth <= 1 edit), so a start within
    # `stride` of a sample can undercut it by at most 2*stride: refining all
    # samples with d <= d0 + 2*stride is exhaustive-equivalent to the
    # reference's full stride-1 slide (segment_extractor.py:670-675).
    stride = max(1, n // 8)
    coarse = []
    for start in range(0, h - n + 1, stride):
        d = levenshtein(needle_norm, hay_norm[start:start + n])
        coarse.append((d, start))
        if d == 0:
            return start, 0
    d0 = min(coarse)[0]
    to_refine: set[int] = set()
    for d, s0 in coarse:
        if d <= d0 + 2 * stride:
            to_refine.update(range(max(0, s0 - stride),
                                   min(h - n, s0 + stride) + 1))
    for start in sorted(to_refine):
        d = levenshtein(needle_norm, hay_norm[start:start + n])
        if d < best_dist or (d == best_dist and start < best_start):
            best_dist, best_start = d, start
            if d == 0:
                break
    return best_start, best_dist


def find_original_segment(llm_segment: str,
                          markdown_content: str) -> str | None:
    """Reference J2 (segment_extractor.py:628-711): locate the original
    (unnormalized) segment in markdown; None when nothing within tolerance."""
    needle = unescape_control(llm_segment)
    needle_norm = normalize_for_matching(needle)
    if not needle_norm:
        return None
    # map normalized index -> original index (segment_extractor.py:677-687)
    orig_idx = []
    hay_norm_chars = []
    for i, ch in enumerate(markdown_content):
        if not ch.isspace() and ch != "\\":
            hay_norm_chars.append(ch)
            orig_idx.append(i)
    hay_norm = "".join(hay_norm_chars)
    start_n, dist = _window_scan(needle_norm, hay_norm)
    if dist > max(1, int(EDIT_DISTANCE_RATIO * len(needle_norm))):
        return None
    end_n = min(start_n + len(needle_norm), len(hay_norm)) - 1
    o_start = orig_idx[start_n]
    o_end = orig_idx[end_n] + 1
    # boundary refinement ±radius maximizing delimiter bonus − extra chars
    best, best_score = None, -1e9
    for ds in range(-SEARCH_RADIUS, SEARCH_RADIUS + 1):
        s = o_start + ds
        if s < 0 or s >= len(markdown_content):
            continue
        for de in range(-SEARCH_RADIUS, SEARCH_RADIUS + 1):
            e = o_end + de
            if e <= s or e > len(markdown_content):
                continue
            cand = markdown_content[s:e]
            score = (formula_delimiter_bonus(cand)
                     - 0.05 * (abs(ds) + abs(de)))
            if score > best_score:
                best_score, best = score, cand.strip()
    return best


def align_spans(golden: list[dict], markdown: str,
                boilerplate: frozenset[str] = frozenset()) -> list[dict]:
    """GT-guided extraction: parse markdown into candidate spans, then align
    each golden span in order (exact match first, fuzzy fallback), consuming
    candidates so nothing double-matches (J6). Text spans align against the
    residual text candidates. Unmatched spans yield text='' (reference fills
    "" on failure, segment_extractor.py:81-85)."""
    candidates = parse_markdown(markdown, boilerplate)
    used = [False] * len(candidates)
    out = []
    cursor = 0

    def matches(g: dict, j: int) -> bool:
        c = candidates[j]
        if used[j] or c["kind"] != g["kind"]:
            return False
        if g["kind"] == "image":
            return c["media_ref"] == g["media_ref"]
        if c["text"] == g["text"]:  # J1 exact
            return True
        g_norm = normalize_for_matching(g["text"])  # J2 fuzzy
        tol = max(1, int(EDIT_DISTANCE_RATIO * len(g_norm)))
        return levenshtein(g_norm, normalize_for_matching(c["text"])) <= tol

    for g in golden:
        # positional-first: GT order == reading order by construction
        # (reference prompt assumption, segment_extractor.py:223), so the
        # next unused same-kind candidate is checked exact-or-fuzzy before
        # any later twin — an exact-anywhere-first policy would steal a
        # later duplicate and misalign the noisy positional one. Wrap
        # around as a fallback for out-of-order documents.
        found = None
        order = list(range(cursor, len(candidates))) + list(range(0, cursor))
        for j in order:
            if matches(g, j):
                found = j
                break
        if found is None:
            out.append({"kind": g["kind"], "text": "", "media_ref": "",
                        "matched": False})
        else:
            used[found] = True
            if found >= cursor:
                cursor = found + 1
            c = candidates[found]
            out.append({"kind": g["kind"], "text": c["text"],
                        "media_ref": c["media_ref"], "matched": True})
    for i, s in enumerate(out):
        s["offset"] = i
    return out
