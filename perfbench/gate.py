"""Correctness gate: per-document exact span-sequence equality.

A document matches when its emitted spans, ordered by offset, equal the
golden sequence of (offset, kind, text, media_ref) exactly. A document is
failed when it has no output rows while golden has some, or when the
program marked it ``status='error'``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

KEY = ["offset", "kind", "text", "media_ref"]


@dataclass(frozen=True)
class GateResult:
    attempted: int
    matched: int
    failed: int

    @property
    def exact_match_ratio(self) -> float:
        return self.matched / self.attempted

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted

    @property
    def ok(self) -> bool:
        return self.matched == self.attempted and self.failed == 0


def _sequences(spans: pd.DataFrame) -> dict[str, tuple]:
    spans = spans.sort_values(["doc_id", "offset"], kind="stable")
    seqs: dict[str, list] = {}
    for row in spans[["doc_id", *KEY]].itertuples(index=False, name=None):
        seqs.setdefault(row[0], []).append(row[1:])
    return {d: tuple(s) for d, s in seqs.items()}


def check(output: pd.DataFrame, golden: pd.DataFrame, doc_ids,
          error_docs=frozenset()) -> GateResult:
    """Compare `output` span rows with `golden` for every id in `doc_ids`."""
    got, want = _sequences(output), _sequences(golden)
    attempted = matched = failed = 0
    for d in doc_ids:
        attempted += 1
        if d in error_docs or (d not in got and d in want):
            failed += 1
        elif got.get(d, ()) == want.get(d, ()):
            matched += 1
    if attempted == 0:
        raise ValueError("gate needs at least one document")
    return GateResult(attempted, matched, failed)
