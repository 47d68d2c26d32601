"""Deduplication operators over the `documents` table. Relational steps
(joins, groupBys, banding) are built-in functions; per-document hashing
runs as ``kernel_op`` kernels over each doc's text.

All hashing is md5-hex (identical in Spark and the DuckDB oracle), and every
"min over hashes" uses lexicographic order on fixed-width hex, so results are
engine-independent and deterministic.

Scale notes (100 TB): exact dedup is one hash-shuffle with map-side partial
aggregation; MinHash/LSH shuffles only (band_key, doc_id) pairs — K=16
signatures, 4 bands × 4 rows — then self-joins *within* band buckets, so the
candidate join never goes quadratic in the corpus; verification runs only on
candidate pairs. SimHash comes in two sizes: the 16-bit demo signature
(simhash_signatures) and the production 64-bit form (simhash64_blocks /
simhash_near_dups) whose Hamming-neighbor search uses block-equality
banding. Embedding near-dups band random projections the same way, and
dedup_clusters closes the pair graph into components without leaving the
DataFrame API.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pdf_parse_bench_spark.functions import round_half_up
from pdf_parse_bench_spark.operators.kernel import kernel_op
from pdf_parse_bench_spark.operators.similarity import (
    fold_dots,
    hyperplanes,
    map_embeddings,
    pair_cosines,
)
from pdf_parse_bench_spark.operators.text import (
    doc_words,
    ngram_digests,
    word_array,
    word_grams,
)

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # K = BANDS * ROWS
SHINGLE_N = 3
SIMHASH_BITS = 16


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keeps the smallest doc_id per
    group. One shuffle, partial aggregation map-side."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


_MINHASH_MOD = 4294967296  # 2^32


def _doc_shingle_ab(text: str):
    """(a, b) int64 arrays — the two big-endian 32-bit halves of
    md5(shingle) for every word SHINGLE_N-gram of the doc (whole text as
    one shingle when shorter than SHINGLE_N words), byte-identical to the
    JVM conv(substring(md5(shingle), 1|9, 8), 16, 10) pair."""
    buf = b"".join(hashlib.md5(s.encode()).digest()[:8]
                   for s in word_grams(doc_words(text), SHINGLE_N))
    ab = np.frombuffer(buf, dtype=">u4").astype(np.int64).reshape(-1, 2)
    return ab[:, 0], ab[:, 1]


def _minhash_signature(text: str):
    """The doc's K minhash values (int64 array): h_i = (a + i·b) mod 2^32
    over its shingles' md5 halves, minimized per i."""
    a, b = _doc_shingle_ab(text)
    idx = np.arange(MINHASH_K, dtype=np.int64)
    return ((a[:, None] + idx[None, :] * b[:, None])
            % _MINHASH_MOD).min(axis=0)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """K minhash values per doc via Kirsch-Mitzenmacher double hashing:
    ONE md5 per shingle yields two 32-bit halves (a, b); h_i = (a + i·b)
    mod 2^32 gives K pairwise-distinct hash functions with the same LSH
    collision guarantees as K independent hashes (Kirsch & Mitzenmacher
    2006).

    Physical shape (r7, guide §4.2): ZERO shuffles — the whole
    signature is computed per doc inside one Arrow-batched kernel
    (hashlib md5 = the same bytes as the JVM md5; the K double-hash
    minima are one vectorized NumPy reduction). The r6 plan exploded
    every shingle and ran an interpreted transform/concat_ws per
    shingle plus a K-column groupBy shuffle; the kernel keeps the md5
    count identical and drops both the interpreted gram construction
    and the exchange."""
    return kernel_op(
        docs,
        lambda text: [{"signature": _minhash_signature(text).tolist()}],
        "signature array<long>", args=["text"])


def _minhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) rows — md5 over the '|'-joined band slice
    of the minhash signature, identical strings to the r6 JVM
    md5(concat_ws('|', ...)) band keys. One kernel pass, no exchange;
    the kernel emits the doc's keys in band order and posexplode numbers
    them."""
    def band_keys(text):
        sig = _minhash_signature(text)
        return [{"band_key": [
            hashlib.md5("|".join(
                str(v) for v in sig[band * LSH_ROWS:(band + 1) * LSH_ROWS]
            ).encode()).hexdigest()
            for band in range(LSH_BANDS)]}]

    return kernel_op(docs, band_keys, "band_key array<string>",
                     args=["text"]).select(
        "doc_id", F.posexplode("band_key").alias("band", "band_key"))


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH banding: docs sharing any band key become candidates.
    Self-join happens per band bucket (shuffle key = band hash)."""
    bands = _minhash_band_rows(docs)
    # both join sides shuffle on (band, band_key) from the identical plan, so
    # Catalyst reuses one exchange (ReusedExchange, asserted in
    # tests/test_plans.py) — no persist needed, nothing pins executor memory.
    # At cluster scale the equivalent is "write signatures to a table first".
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _shingle_sets_df(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) — the doc's DISTINCT word-3-gram
    shingles from one kernel pass (sorted for determinism; only set
    SIZES feed the Jaccard, so order is free)."""
    return kernel_op(
        docs,
        lambda text: [{"sh": sorted(set(word_grams(doc_words(text),
                                               SHINGLE_N)))}],
        "sh array<string>", args=["text"])


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LSH candidates verified by true shingle-set Jaccard >= threshold.
    Exact set ops run only on candidate pairs (never corpus-quadratic)."""
    cands = lsh_candidate_pairs(docs)
    sh = _shingle_sets_df(docs)
    j = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            round_half_up(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return j


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc SimHash over word unigrams. Bit b's vote uses the MSB of hex
    nibble b of md5(word) (nibble >= '8'), so the identical expression runs
    in ANSI SQL."""
    w = docs.select("doc_id", F.explode(word_array()).alias("word"))
    h = w.select("doc_id", F.md5("word").alias("h"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring("h", b + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = votes.select(
        "doc_id",
        sum(
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(SIMHASH_BITS)
        ).alias("simhash"),
    )
    return sim


EMB_LSH_PLANES = 16
EMB_LSH_ROWS = 4  # bits per band → EMB_LSH_PLANES/EMB_LSH_ROWS bands

CLUSTER_JACCARD = 0.5  # shingle Jaccard at/above which dedup_clusters links


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """Connected components over the verified near-dup graph: every doc gets
    cluster_id = min doc_id reachable through Jaccard>=CLUSTER_JACCARD edges
    (singletons cluster with themselves) — the canonical-doc selection step
    a dedup pipeline runs after pair generation.

    Iterative label propagation (the BSP/Pregel shape): each round joins
    labels to the symmetrized edge list and takes the min neighbor label;
    stop when no label changed. A pointer-doubling shortcut
    (label := label-of-label) after each propagation makes rounds needed
    O(log diameter) instead of O(diameter), so a pathological long duplicate
    chain converges inside propagate_min_labels' max_iter; every round is
    one distributed join + groupBy — no driver-side graph. Lineage is
    truncated per round via localCheckpoint so plans don't grow with
    iterations. Raises RuntimeError if max_iter is exhausted before
    convergence — silently returning partially-propagated labels would
    split a long chain into multiple clusters."""
    edges = ngram_jaccard_pairs(docs, CLUSTER_JACCARD).select("doc_a", "doc_b")
    labels, _rounds = propagate_min_labels(docs.select("doc_id"), edges)
    return labels


def propagate_min_labels(nodes: DataFrame, edges: DataFrame,
                         max_iter: int = 20) -> tuple[DataFrame, int]:
    """Min-label propagation + pointer doubling over an explicit edge list
    (doc_a, doc_b) — the connected-components core of dedup_clusters,
    factored out so tests can drive it with adversarial synthetic graphs
    (e.g. a 10k-node chain, diameter >> max_iter) and assert the O(log d)
    round count the docstring claims. Returns (labels, rounds_used) where
    rounds_used INCLUDES the final no-change detection round.

    r7 (guide §2.4 — don't compute what you throw away): the iteration
    runs ONLY over edge-endpoint nodes. A node with no incident edge can
    never receive a neighbor label — its cluster_id is provably its own
    doc_id — and on a deduped corpus endpoints are a vanishing fraction
    of nodes, so every per-round join/aggregate touches the near-dup
    subgraph instead of re-scanning the full node table each round
    (~13 s of iteration overhead at sf1.0 collapsed to sub-second
    rounds). Singletons re-attach with one anti-join after convergence;
    output is row-identical to the full-table iteration."""
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    epts = (sym.select(F.col("doc_a").alias("doc_id")).distinct()
            .localCheckpoint())
    labels = epts.select("doc_id", F.col("doc_id").alias("cluster_id"))
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh = (
            labels.join(sym, labels["doc_id"] == sym["doc_a"])
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("neigh_min"))
        )
        updated = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least("cluster_id", F.coalesce("neigh_min", "cluster_id"))
                .alias("cluster_id"),
            )
        )
        # pointer doubling: labels always point to <= themselves (min), so
        # label(label(x)) <= label(x) and is still within x's component
        hop = updated.select(F.col("doc_id").alias("_hop_id"),
                             F.col("cluster_id").alias("_hop_label"))
        updated = (
            updated.join(hop, updated["cluster_id"] == hop["_hop_id"], "left")
            .select(
                "doc_id",
                F.least("cluster_id",
                        F.coalesce("_hop_label", "cluster_id"))
                .alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            updated.alias("u").join(labels.alias("l"), "doc_id")
            .where(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .limit(1).count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — "
            "raise max_iter (graph diameter exceeds 2^max_iter after "
            "pointer doubling, which indicates pathological input)"
        )
    singletons = nodes.select("doc_id").join(
        epts, "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    return labels.union(singletons), rounds


SIMHASH64_BLOCKS = 4   # 4 x 16-bit blocks of the 64-bit signature
SIMHASH64_MAX_HAMMING = 3


def simhash64_blocks(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over word unigrams, stored as four 16-bit ints
    (b0..b3) to stay engine-portable (bit 63 of a BIGINT is the sign bit).

    Bit k's vote is bit k of the word's md5 first 64 bits (two 32-bit
    big-endian halves); the vote sign is 2*sum(bit_k) > n. Physical
    shape (r7, guide §4.2): ZERO shuffles — one Arrow-batched kernel
    hashes each doc's words (hashlib md5 = the same bytes as the JVM
    md5) and folds the 64 bit-sums as one vectorized NumPy reduction.
    The r6 plan exploded every word and ran a 65-aggregate
    groupBy(doc_id) shuffle with 64 shiftright/and expressions per word
    row. Docs with no words emit no row, exactly like the r6 explode."""
    shifts = np.arange(32, dtype=np.int64)
    weights = 1 << np.arange(16, dtype=np.int64)

    def blocks(text):
        w = doc_words(text)
        if not w:
            return []
        buf = b"".join(hashlib.md5(t.encode()).digest()[:8] for t in w)
        ab = np.frombuffer(buf, dtype=">u4").astype(np.int64)
        bits = (ab[:, None] >> shifts[None, :]) & 1
        s = bits.reshape(-1, 2, 32).sum(axis=0)  # (2, 32)
        sf = np.concatenate([s[0], s[1]])        # s_0..s_63
        votes = (2 * sf > len(w)).astype(np.int64)
        blk = (votes.reshape(4, 16) * weights).sum(axis=1)
        return [dict(zip(("b0", "b1", "b2", "b3"), blk.tolist()))]

    return kernel_op(docs, blocks, "b0 int, b1 int, b2 int, b3 int",
                     args=["text"])


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """Hamming-<=3 neighbor pairs over 64-bit SimHash signatures without an
    all-pairs join (Manku et al., WWW'07 block-permutation trick): two
    signatures within Hamming distance 3 must agree EXACTLY on at least one
    of the 4 16-bit blocks (pigeonhole), so candidates come from a self-join
    per (block_idx, block_value) bucket — the same banding shape as
    MinHash-LSH — and the exact popcount(xor) check runs on candidates only.

    r7 (guide §2.3/§2.4): each band row CARRIES the four signature blocks
    (8 bytes — cheaper than a join), so the Hamming popcount evaluates
    inline in the self-join output and the survivors-only distinct runs on
    the ~0.1% of candidates that pass `<= SIMHASH64_MAX_HAMMING`. The r6 plan
    distinct-ed the RAW candidate pair space first (19M rows at sf1.0 —
    block values of short docs collide heavily) and then re-joined the
    signature table twice; duplicates of a surviving pair carry identical
    (doc_a, doc_b, hamming) rows, so deduping after the filter is
    row-identical."""
    sig = simhash64_blocks(docs)
    bands = sig.select(
        "doc_id", "b0", "b1", "b2", "b3",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("blk"), F.col(f"b{j}").alias("blk_val"))
            for j in range(SIMHASH64_BLOCKS)
        ])).alias("bk"),
    ).select("doc_id", "b0", "b1", "b2", "b3", "bk.blk", "bk.blk_val")
    a, b = bands.alias("a"), bands.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.b{j}").bitwiseXOR(F.col(f"b.b{j}")))
        for j in range(4)
    )
    return (
        a.join(b, ["blk", "blk_val"])  # identical plans → ReusedExchange
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH64_MAX_HAMMING)
        .distinct()
    )


def embedding_near_dups(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded random-projection LSH
    (the MinHash-banding construction applied to sign bits): each vector
    gets a P-bit signature from P = EMB_LSH_PLANES seeded random
    hyperplanes; the signature splits into P/R bands of R = EMB_LSH_ROWS
    bits; vectors sharing any (band, band_key) become candidates,
    verified by exact float64 cosine >= threshold.

    Scale shape: verification runs per (band, band_key) bucket —
    2^R * n_bands buckets — never corpus-quadratic; recall rises with more
    bands, precision with more rows per band (tune like MinHash-LSH). With
    P=16/R=4, two vectors at cosine 0.9 (~14° apart) collide in a given
    band w.p. (1-14/180)^4 ≈ 0.72, in ≥1 of 4 bands w.p. ≈ 0.994.

    Physical shape (r7, guide §4.2): the within-bucket pair work is a
    grouped NumPy kernel, not a self-join. The r6 plan self-joined the
    band table and evaluated an interpreted aggregate/zip_with cosine
    fold per candidate ROW-PAIR inside the join (O(bucket^2) interpreted
    expressions — 78 s at sf1.0); this version ships (vec_id, band,
    band_key, v) once through ONE exchange and computes each bucket's
    pair cosines with similarity.pair_cosines (row blocks, fold-order
    dots: ``fold_dots``), so every surviving pair's cosine is
    bit-identical to the r6 plan and the DuckDB oracle (asserted by
    tests/test_oracle_parity.py; r6 hashes unchanged). Cross-band
    duplicate pairs carry identical rows and collapse in the final
    distinct(), exactly as before."""
    pl = np.array(hyperplanes(EMB_LSH_PLANES), dtype=np.float64)  # (P, dim)
    n_bands = EMB_LSH_PLANES // EMB_LSH_ROWS
    mask = (1 << EMB_LSH_ROWS) - 1
    w_p = 1 << np.arange(EMB_LSH_PLANES, dtype=np.int64)

    def explode_bands(ids, mat):
        # fold-order dots, so borderline signs match sign_bucket() exactly
        sig = ((fold_dots(mat, pl) >= 0).astype(np.int64) * w_p).sum(axis=1)
        return pd.DataFrame({
            "vec_id": np.tile(ids, n_bands),
            "band": np.repeat(np.arange(n_bands, dtype=np.int32), len(ids)),
            "band_key": np.concatenate([
                ((sig >> (b * EMB_LSH_ROWS)) & mask) for b in range(n_bands)
            ]).astype(np.int32),
            "v": list(mat) * n_bands,
        })

    exploded = map_embeddings(
        emb, explode_bands,
        "vec_id long, band int, band_key int, v array<double>")
    pairs = exploded.groupBy("band", "band_key").applyInPandas(
        lambda pdf: _near_dup_pairs(pdf, threshold),
        schema="vec_a long, vec_b long, cosine double")
    return pairs.distinct()


def _near_dup_pairs(pdf: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """embedding_near_dups' group function: the (vec_a < vec_b) pairs of
    one (band, band_key) bucket at cosine >= threshold."""
    frames = []
    for ids, i0, cos in pair_cosines(pdf):
        ii, jj = np.nonzero(cos >= threshold)
        keep = (ii + i0) < jj  # vec_a < vec_b under the sorted order
        frames.append(pd.DataFrame({
            "vec_a": ids[ii[keep] + i0],
            "vec_b": ids[jj[keep]],
            "cosine": cos[ii[keep], jj[keep]],
        }))
    return pd.concat(frames, ignore_index=True)


NGRAM_DUP_N = 8        # shingle width (words) — Lee et al. exact-substring dedup
NGRAM_DUP_MAX_DF = 20  # shingles in more docs than this are boilerplate, not dup evidence
NGRAM_DUP_MIN_SHARED = 3


def duplicate_ngram_pairs(docs: DataFrame) -> DataFrame:
    """Exact-substring duplicate detection (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" map-reduce shape): every
    doc emits its distinct word-8-gram shingle hashes; shingles appearing
    in 2..NGRAM_DUP_MAX_DF docs (rarer than boilerplate) vote for doc
    pairs; pairs sharing >= NGRAM_DUP_MIN_SHARED rare shingles are
    exact-substring duplicates.

    Scale shape: per-doc DISTINCT shingle digests come out of one
    Arrow-batched kernel (r7, guide §4.2 — hashlib md5 bytes ARE the
    JVM md5 hex key, so the 16-byte digest is an equality-preserving
    narrowing of the r6 32-char hex string and the corpus-wide
    (doc_id, sh) distinct shuffle disappears: the kernel's per-doc set
    IS that distinct). A document-frequency filter runs BEFORE the
    self-join (so ubiquitous boilerplate shingles can never explode the
    pair space), and the self-join reuses the shingle exchange. Output
    is (doc_a, doc_b, n_shared) — tiny relative to the corpus."""
    g = ngram_digests(docs, NGRAM_DUP_N)
    rare = (g.groupBy("sh")
            .agg(F.count("*").alias("df"))  # kernel rows are per-doc distinct
            .where((F.col("df") >= 2) & (F.col("df") <= NGRAM_DUP_MAX_DF))
            .select("sh"))
    gr = g.join(rare, "sh")
    pairs = (
        gr.alias("a")
        .join(gr.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= NGRAM_DUP_MIN_SHARED)
    )
    return pairs
