"""In-repo replica of the driver's correctness gate (SURVEY.md §5(c)):
run queries() on Spark and oracle_sql() on DuckDB over sf0.01, compare
row count + sorted column names + order-insensitive values.

The full 84-query sweep lives in tools/check_parity.py; this test pins a
representative subset per operator family so `pytest -x -q` stays fast.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.check_parity import oracle_connection, to_rows

SF = "/root/testdata/sf0.01"

SUBSET = [
    "extract_spans",        # flagship kernel vs golden
    "layout_spans",         # XY-cut path vs golden
    "pdf_parse",            # byte-stream tokenizer vs golden
    "boilerplate_lines",    # corpus-level P2
    "span_kind_projection", # higher-order projection
    "page_assembly",        # U1/M10 window+collect_list
    "delimiter_normalization",
    "grouped_mean_scores",
    "score_cube",
    "leaderboard",
    "pending_scores",
    "dedup_exact",
    "simhash_signatures",
    "ann_topk",
    "lang_id",
    "quality_score",
    "tpch_q1",
    "sessionize_events",
    # round-2 families
    "tei_spans",            # TEI walker vs golden
    "decode_media",         # real PNG decode vs pinned stats
    "page_raster_stats",    # M5 rasterizer vs pinned stats
    "extracted_complexity_cube",
    "page_assembly_refs",   # M10 substitution
    "simhash_near_dups",    # 64-bit Hamming banding
    "embedding_near_dups",  # banded random projections
    "ann_lsh",              # multi-probe buckets
    "dedup_clusters",       # connected components vs recursive CTE
    "corpus_filter",        # composed cleaning pass
    "vocab_stats",
    # round-4 families
    "pdf_spans",            # media_ref image spans + chrome suppression
    "minhash_signatures",   # double-hashed minhash
    "thumbnail_media",      # block-average resize
    "audio_features",       # WAV metadata + PCM stats
    "video_frames",         # Y4M frame sampling
    "unicode_normalization",  # long-tail map, layered oracle
]


@pytest.fixture(scope="module")
def con():
    return oracle_connection(SF)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, fx_correct, con, name):
    sp = entry.queries()[name](spark, SF).toPandas()
    ora = con.execute(entry.oracle_sql()[name]).fetchdf()
    c1, r1 = to_rows(sp)
    c2, r2 = to_rows(ora)
    assert c1 == c2
    assert len(r1) == len(r2)
    assert r1 == r2
