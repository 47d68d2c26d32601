"""The NumPy side of the embedding operators (operators/similarity.py):
fold-order dots and the blocked pair-cosine loop that the two
near-duplicate group functions share. Plain pandas, no Spark session."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pdf_parse_bench_spark.operators import dedup as dd
from pdf_parse_bench_spark.operators import similarity as sim


def test_fold_dots_is_left_to_right_accumulation():
    rng = np.random.default_rng(1)
    a = rng.standard_normal((4, sim.EMB_DIM))
    b = rng.standard_normal((3, sim.EMB_DIM))
    got = sim.fold_dots(a, b)
    for i in range(len(a)):
        for j in range(len(b)):
            acc = 0.0
            for x, y in zip(a[i].tolist(), b[j].tolist()):
                acc += x * y
            assert got[i, j] == acc, (i, j)


def _group() -> pd.DataFrame:
    """Ten vectors with ids 100-109, rows shuffled: three near-copies
    (ids 104, 108, 109) of vector 100 and one (id 107) of vector 105. At
    PAIR_BLOCK = 3 the copies of 100 sit in four different row blocks, so
    109 meets smaller-id partners in three blocks, and 107's only partner
    sits in the block at offset 3."""
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((10, sim.EMB_DIM))
    for copy, orig in ((4, 0), (8, 0), (9, 0), (7, 5)):
        vecs[copy] = vecs[orig] + 0.05 * rng.standard_normal(sim.EMB_DIM)
    order = rng.permutation(10)
    return pd.DataFrame({"vec_id": np.arange(100, 110)[order],
                         "v": list(vecs[order])})


@pytest.mark.parametrize("group_fn", [
    lambda pdf: dd._near_dup_pairs(pdf, 0.4),
    sim._dropped_near_dups,
], ids=["embedding_near_dups", "semantic_dedup"])
def test_pair_group_functions_block_invariant(monkeypatch, group_fn):
    """Rows in blocks of 3 (blocks at offsets 0, 3, 6 and 9) equal the
    rows of one block."""
    pdf = _group()
    whole = group_fn(pdf)
    monkeypatch.setattr(sim, "PAIR_BLOCK", 3)
    blocked = group_fn(pdf)
    assert len(whole) >= 4 and not whole.duplicated().any()
    pd.testing.assert_frame_equal(blocked, whole)
