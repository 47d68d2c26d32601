"""Tests for the benchmark itself: seeded generator, gate, resume counts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from perfbench import gate, inputs  # noqa: E402

N = 24


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.glob("*.parquet"))}


@pytest.fixture(scope="module")
def universe(tmp_path_factory):
    out = tmp_path_factory.mktemp("universe")
    inputs.render_universe("markdown", inputs.UNIVERSE * N, out)
    return out


def test_generator_byte_identical_for_fixed_seed(universe, tmp_path):
    again = tmp_path / "again"
    inputs.render_universe("markdown", inputs.UNIVERSE * N, again,
                           processes=2)
    assert _files(again) == _files(universe)
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    inputs.select_window(universe, 7, N, a)
    inputs.select_window(universe, 7, N, b)
    inputs.select_window(universe, 8, N, c)
    assert _files(a) == _files(b)
    assert _files(a)["input.parquet"] != _files(c)["input.parquet"]
    ids = pd.read_parquet(a / "input.parquet")["doc_id"].tolist()
    assert ids == inputs.doc_ids(7, N)


def test_gate_flags_one_perturbed_span(universe):
    golden = pd.read_parquet(universe / "golden.parquet")
    ids = sorted(golden["doc_id"].unique())
    clean = gate.check(golden.copy(), golden, ids)
    assert clean.ok and clean.exact_match_ratio == 1.0

    bad = golden.copy()
    bad.loc[bad.index[5], "text"] += " "
    res = gate.check(bad, golden, ids)
    assert not res.ok
    assert (res.attempted, res.matched, res.failed) == (len(ids), len(ids) - 1, 0)

    swapped = golden.copy()  # same spans, two offsets exchanged
    first = swapped.index[swapped["doc_id"] == ids[0]][:2]
    swapped.loc[first, "offset"] = swapped.loc[first[::-1], "offset"].values
    assert gate.check(swapped, golden, ids).matched == len(ids) - 1

    missing = golden[golden["doc_id"] != ids[-1]]
    res = gate.check(missing, golden, ids, error_docs=frozenset(ids[:1]))
    assert res.failed == 2 and res.failed_ratio == 2 / len(ids)


def test_pending_docs_equals_injected_failures(universe, tmp_path):
    from perfbench import run

    run.configure_env()
    from perfbench.tracing import Tracer
    from perfbench.workloads import MdExtract

    window = tmp_path / "window"
    inputs.select_window(universe, 3, N, window)
    spark, _, _ = run.start_session(2)
    try:
        w = MdExtract(spark, window, tmp_path / "work", 3,
                      inputs.doc_ids(3, N))
        assert len(w.fail) == round(inputs.FAIL_SHARE * N)
        counts = w._resume_layers(Tracer(), w.read(), frozenset())
        assert counts["resume.pending_docs"] == len(w.fail)
        assert counts["resume.redo_ratio"] == 1.0
        assert w.traced_ok(counts)
        _spans, errors = w.traced_outputs()
        assert not errors  # pass 2 recovered every injected failure
    finally:
        run.stop_jvm()
