"""Similarity search over embeddings (Tier C, driver mandate):
brute-force cosine top-k (oracle-checked), threshold self-join
(oracle-checked), and an LSH-bucketed ANN variant (rows-only, recall
pinned by tests).

Precision discipline: embeddings are float32; both engines cast to
float64 and compute dot products as a strictly sequential left fold
(Spark ``aggregate`` over ``zip_with``; DuckDB ``list_reduce``), so
the doubles are bit-identical and survive the value-hash gate after
round(6).

Scale notes (100 TB / billions of vectors): the brute-force form is
the per-partition kernel; the scale path is the bucketed variant —
candidates come from an equi-join on hash buckets (random hyperplane
signs), turning O(n*q) into O(collisions). The hyperplanes are
deterministic literals (seeded off-line), broadcast with the query
set. A production deployment would use IVF centroids learned by
k-means; the plumbing (bucket assignment → equi-join → per-bucket
top-k) is identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..cache import campaign
from ..sources import load_table
from ..sources.tables import table_row_count

TOPK = 5
N_QUERIES = 100          # vec_id < 100 are the query set
SIM_THRESHOLD = 0.4  # fixture embeddings are near-orthogonal (max pair
                     # cosine ~0.51 at sf0.01); 0.4 keeps the top ~0.1%
# 6 planes = 64 buckets. Sized for the fixture's geometry: embeddings
# are near-orthogonal (true top-5 neighbors sit at cosine ~0.3-0.5,
# i.e. per-plane agreement ~0.63), so P(same bucket) = 0.63^planes —
# more planes than this and neighbors never collide. Real embedding
# corpora are clustered (agreement >0.9) and take 16-24 planes.
LSH_PLANES = 6
# Above this corpus size the fixture geometry is measured strictly
# dominated (STRESS_r12 `lsh_800k`: 6 planes → the 22-probe join scans
# ~34% of the corpus per query, 125.2 s vs the 48.6 s exact broadcast
# scan at 800k) and sim_ann_lsh derives planes from the corpus size
# instead (the r8 `_ivf_k` lesson: a fixed constant tuned at fixture
# scale is a scale defect). The gate sits above every oracle-checked
# scale (sf0.01 ~2k vectors, sf0.1 ~20k), so the DuckDB oracle — which
# hard-codes the 6-plane bucketing — keeps matching bit-for-bit below
# it.
LSH_SCALE_GATE = 100_000
LSH_PLANES_MAX = 24      # 16M buckets; caps driver-side flip-literal count
LSH_TARGET_BUCKET = 128  # aim for ~n/2^planes rows per bucket above gate


def _lsh_planes(n_rows: int) -> int:
    """Corpus-scaled hyperplane count: fixture geometry (6 planes) at or
    below ``LSH_SCALE_GATE``, else ``ceil(log2(n / LSH_TARGET_BUCKET))``
    clamped to [LSH_PLANES, LSH_PLANES_MAX]. With hamming-radius-2
    multi-probe the scanned corpus share is (1 + p + p(p-1)/2) / 2^p —
    34% at p=6, ~1.1% at the p=13 this derives for 800k, ~0.001% at the
    p=23 a 10^9-vector corpus derives (the docstring's 16-24 band).
    Recall survives because clustered corpora put true neighbors at
    per-plane agreement >0.99 (pinned: recall 1.0 at 800k, STRESS_r13
    `lsh_800k`; the sub-gate fixture stays on the oracle-checked
    6-plane geometry its near-orthogonal vectors need)."""
    import math

    if n_rows <= LSH_SCALE_GATE:
        return LSH_PLANES
    return min(
        LSH_PLANES_MAX,
        max(LSH_PLANES, math.ceil(math.log2(n_rows / LSH_TARGET_BUCKET))),
    )


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — order-stable across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Measured dead end (r4), recorded so it is not retried: swapping the
# pair-level fold for an Arrow pandas-UDF dot kernel (bit-identical
# column-wise accumulate) made every scored join 5-35x SLOWER at sf0.1
# (sim_knn_exact 2.8 s -> 104 s). The fold computes on pairs the join
# materializes transiently JVM-side, while a pair-level UDF forces both
# 64-double arrays through Arrow PER PAIR (~26 GB for 25M pairs).
# Python kernels only pay off at per-ROW granularity (n, not n² — see
# _block_keys_udf below); pair-scale scoring stays on the built-in fold.

_DOT_SQL = """list_reduce(
    list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
        i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)),
    (x, y) -> x + y)"""


def _with_norm(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df.select(
        F.col("vec_id").alias(id_alias),
        vec.alias(vec_alias),
        F.sqrt(_dot(vec, vec)).alias(f"{id_alias}_norm"),
    )


_NORM_SQL = "sqrt({d})".format(d=_DOT_SQL.format(a="embedding", b="embedding"))


# --------------------------------------------------------------------------
# Brute-force cosine top-k (the exactness baseline)
# --------------------------------------------------------------------------

def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for each query vector (vec_id < 100),
    excluding self; rank ties broken by neighbor id.

    The query side is broadcast (bounded query set); candidates stream
    through a single projection + WindowGroupLimit top-k — no shuffle
    of the corpus, which is the property that matters at 10^9 vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "query_id", "qv")
    c = _with_norm(emb, "neighbor_id", "cv")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("query_id_norm") * F.col("neighbor_id_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


SIM_COSINE_TOPK_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                 / (q.norm * c.norm), 6) AS cosine
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOPK}
"""


# --------------------------------------------------------------------------
# Range search (all neighbors within a cosine radius of each query)
# --------------------------------------------------------------------------

RANGE_THRESHOLD = 0.3  # just above the fixtures' noise floor (~0.28)


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query: EVERY corpus neighbor with cosine >=
    RANGE_THRESHOLD for each query vector (vec_id < N_QUERIES),
    excluding self — the fixed-radius complement of ``sim_cosine_topk``
    (top-k caps the result, range search caps the distance; vector
    stores expose both).

    Same scale shape as the top-k: the bounded query set is broadcast,
    the corpus streams through one scored projection, and — unlike
    top-k — there is NO window at all: the radius predicate filters in
    the map stage, so the plan is scan → broadcast-join → filter with
    zero shuffles of the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "query_id", "qv")
    c = _with_norm(emb, "neighbor_id", "cv")
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("query_id_norm") * F.col("neighbor_id_norm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= RANGE_THRESHOLD)
        .select("query_id", "neighbor_id", "cosine")
    )


SIM_RANGE_SEARCH_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings
)
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
             / (q.norm * c.norm), 6) AS cosine
FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
WHERE round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
            / (q.norm * c.norm), 6) >= {RANGE_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Threshold similarity self-join (blocked candidates + exact verify)
# --------------------------------------------------------------------------

# Candidate blocking for the threshold sweep: 24 independent blocks of
# 2 hyperplane-sign bits (48 planes, same LCG stream as the ANN
# buckets). A pair is a candidate iff SOME block matches exactly — an
# equi-join on (block_idx, block_val), never a cross product. Miss
# probability per pair is Π_blocks (1 - p²) where p = 1 - θ/π is the
# per-plane agreement; at the fixture's hardest qualifying pair
# (cosine 0.4005, p ≈ 0.631) that is (1-0.4)^24 ≈ 5e-6, and
# empirically every qualifying pair at sf0.001/0.01/0.1 matches ≥ 2
# blocks (recall 1.0, asserted in tests/test_similarity.py). Honest
# scale note: at threshold 0.4 on 64-dim near-orthogonal fixtures the
# background block-match rate is ~0.26/block, so the candidate set is
# barely pruned — a threshold this close to the noise floor (3.2σ)
# defeats ANY LSH family. On real clustered corpora (per-plane
# agreement > 0.9 at dedup thresholds) the same plan prunes hard;
# raise BLOCK_BITS to trade recall for pruning.
N_BLOCKS = 24
BLOCK_BITS = 2


def _block_keys_udf():
    """pandas UDF: embedding → 24 x 2-bit hyperplane-sign block values
    (array<int>). One (batch x 64) @ (64 x 48) matmul per Arrow batch —
    the 48 interpreted ``aggregate`` folds the built-in form would need
    re-inline per reference (see memory note) and cost far more."""
    H = np.array(_hyperplanes(N_BLOCKS * BLOCK_BITS), dtype=np.float64)  # (48, 64)
    w = 1 << np.arange(BLOCK_BITS)

    @pandas_udf("array<int>")
    def _keys(emb: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(v, dtype=np.float64) for v in emb.to_numpy()])
        signs = (M @ H.T) > 0  # (n, 48)
        vals = signs.reshape(len(M), N_BLOCKS, BLOCK_BITS) @ w  # (n, 24)
        return pd.Series(list(vals.astype(np.int32)))

    return _keys


def _block_candidate_pairs(emb: DataFrame) -> DataFrame:
    """(id_a, id_b) candidate pairs (a < b) from the block-key
    equi-self-join. Plan: one Arrow projection computes the 24 block
    keys, posexplode → shuffle-join on (block_idx, block_val) →
    distinct. At 10⁹ vectors each side shuffles by block key exactly
    once; a production campaign checkpoints the keyed relation so the
    signature pipeline evaluates once, not per join side."""
    keyed = emb.select(
        "vec_id", _block_keys_udf()(F.col("embedding")).alias("keys")
    )
    idx = (
        keyed.select("vec_id", F.posexplode("keys"))
        .withColumnRenamed("pos", "block_idx")
        .withColumnRenamed("col", "block_val")
    )
    a = idx.select(F.col("vec_id").alias("id_a"), "block_idx", "block_val")
    b = idx.select(F.col("vec_id").alias("id_b"), "block_idx", "block_val")
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _verify_cosine_pairs(
    emb: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Candidate (id_a, id_b) pairs → exact-cosine verify (same
    order-stable dot kernel as the brute-force oracle, so round(6)
    doubles match bit-for-bit): (id_a, id_b, cosine >= threshold)."""
    va = _with_norm(emb, "id_a", "va")
    vb = _with_norm(emb, "id_b", "vb")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (F.col("id_a_norm") * F.col("id_b_norm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _threshold_pairs_verified(emb: DataFrame, threshold: float) -> DataFrame:
    """Block candidates → exact-cosine verify. The right plan when the
    threshold is high enough for hyperplane blocking to prune (dedup
    at >=0.9, kNN candidate scoring); for a threshold at the noise
    floor use :func:`_gemm_threshold_pairs` instead."""
    return _verify_cosine_pairs(emb, _block_candidate_pairs(emb), threshold)


# Tiled-GEMM exact all-pairs: vectors-per-tile. Sized so a tile pair
# (2 x GEMM_CHUNK x 64 float64 + the GEMM_CHUNK² score tile) stays
# ~10 MB — comfortably inside an executor task even at chunk overlap.
GEMM_CHUNK = 1024
# Prune margin: round(cosine, 6) >= t admits raw cosines down to
# t - 5e-7; GEMM re-association + the normalized-vs-fold-norm delta is
# < 1e-12. 2e-6 keeps every pair the exact verify could accept.
_GEMM_MARGIN = 2e-6


def _tile_exploded(emb: DataFrame, n_rows: int, chunk: int) -> DataFrame:
    """Tile t = vec_id div chunk; replicate each vector to every tile
    pair (i <= j) touching its tile. Shared fan-out stage for the
    tiled-GEMM kernels (threshold sweep + block-masked kNN): shuffle
    volume is n x (n/chunk + 1) rows, the quadratic-over-tile-count
    floor any exact all-pairs formulation pays."""
    n_tiles = max(1, -(-n_rows // chunk))
    tagged = emb.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") / chunk).cast("int").alias("tile"),
    )
    # tile pairs this vector participates in: (i, tile) for i <= tile
    # plus (tile, j) for j > tile. sequence() would count DOWN for an
    # empty range, so the right-open tail needs the guard.
    left = F.transform(
        F.sequence(F.lit(0), F.col("tile")),
        lambda i: F.struct(i.alias("ti"), F.col("tile").alias("tj")),
    )
    right = F.when(
        F.col("tile") + 1 <= F.lit(n_tiles - 1),
        F.transform(
            F.sequence(F.col("tile") + 1, F.lit(n_tiles - 1)),
            lambda j: F.struct(F.col("tile").alias("ti"), j.alias("tj")),
        ),
    ).otherwise(F.array().cast("array<struct<ti:int,tj:int>>"))
    return tagged.select(
        "vec_id",
        "embedding",
        "tile",
        F.explode(F.concat(left, right)).alias("tp"),
    ).select("vec_id", "embedding", "tile", "tp.ti", "tp.tj")


def _gemm_candidate_pairs(
    emb: DataFrame, n_rows: int, threshold: float, chunk: int = GEMM_CHUNK
) -> DataFrame:
    """Exact all-pairs candidates via tiled GEMM: one ``applyInPandas``
    group per tile pair (i, j) runs a single NumPy float64 matmul over
    the two tiles, emitting the (id_a < id_b) pairs whose cosine clears
    threshold - margin.

    This is the honest plan for an exact threshold sweep at the noise
    floor (SIM_THRESHOLD sits 3.2σ into the background similarity
    distribution, where NO LSH family prunes — see the blocking note
    above): O(n²) dot products are inherent, so the goal is optimal
    constants — BLAS tiles instead of 6x-duplicated join rows (the
    fixture's pairs match ~6 of the 24 blocks, so the block equi-join
    materializes every pair ~6 times and then pays a distinct). Group
    state is bounded at 2 x chunk rows. Per-vector Arrow transfer is
    n/chunk + 1 copies — group-granularity, NOT the measured
    pair-granularity dead end documented at the top of this module.
    """
    exploded = _tile_exploded(emb, n_rows, chunk)

    cut = threshold - _GEMM_MARGIN

    def _gemm(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = key
        return _pairs_tile_kernel(pdf, ti, tj, cut)

    return exploded.groupBy("ti", "tj").applyInPandas(
        _gemm, "id_a long, id_b long"
    )


def _pairs_tile_kernel(
    pdf: pd.DataFrame, ti: int, tj: int, cut: float
) -> pd.DataFrame:
    """Pure-pandas tile-pair scorer shared by the global-tile and
    IVF-list GEMM plans: one float64 matmul over the (ti, tj) tiles of
    ``pdf``, emitting (id_a < id_b) pairs whose cosine clears ``cut``."""
    a = pdf[pdf["tile"] == ti]
    b = pdf[pdf["tile"] == tj] if ti != tj else a
    if a.empty or b.empty:
        return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
    A = np.stack([np.asarray(v, dtype=np.float64) for v in a["embedding"]])
    B = (
        A
        if ti == tj
        else np.stack([np.asarray(v, dtype=np.float64) for v in b["embedding"]])
    )
    na = np.linalg.norm(A, axis=1)
    nb = na if ti == tj else np.linalg.norm(B, axis=1)
    na = np.where(na == 0, 1.0, na)
    nb = np.where(nb == 0, 1.0, nb)
    scores = (A / na[:, None]) @ (B / nb[:, None]).T
    ia, ib = np.nonzero(scores >= cut)
    id_a = a["vec_id"].to_numpy()[ia]
    id_b = b["vec_id"].to_numpy()[ib]
    keep = id_a < id_b
    return pd.DataFrame({"id_a": id_a[keep], "id_b": id_b[keep]})


# ---- IVF-list gating of the exact all-pairs family (VERDICT r4 #2) ----
#
# The tiled-GEMM plan distributes beautifully but its COMPUTE is O(n²)
# dot products — at 10⁹ vectors that plan does not exist. Above
# GEMM_EXACT_MAX the same kernels run WITHIN coarse IVF lists instead
# (the SemDeDup regime): vectors are multi-assigned to their
# IVF_PAIR_PROBES nearest centroids (so near-boundary pairs still share
# a list — the symmetric analogue of query-side probing), and the
# tile-pair explosion happens per list. Work becomes
# Σ_list (p·n/K)²·K/2 ≈ p²·n·L/2 where L = IVF_TARGET_LIST sizes the
# lists and K grows with the corpus — linear in n at fixed list size,
# not n². The fixtures (≤2k vectors at sf0.1) stay below the gate, so
# every driver-hashed result keeps the exact path bit-for-bit; recall
# of the IVF path vs the exact kernel is pinned in
# tests/test_similarity.py by forcing the gate down at sf0.01.
GEMM_EXACT_MAX = 10_000
IVF_PAIR_PROBES = 2
IVF_TARGET_LIST = 2048


# Hot-list split discipline for the symmetric pair tier (VERDICT r9
# #5): per-list GEMM work is Σ list², so ONE oversized Lloyd list
# dominates the whole budget (measured at the 100x stress corpus:
# max_list 13,557 vs mean ~2k — that single list carried ~45% of
# Σ list²). A centroid whose TRAINING-SAMPLE ownership exceeds
# _LIST_SPLIT_FACTOR x the target share is re-split into
# ceil(own/target) sub-centroids by Lloyd over its own sample members
# — all driver-side on the bounded sample (no extra corpus pass), the
# balanced-kmeans refinement faiss applies for the same reason.
_LIST_SPLIT_FACTOR = 2.0
_LIST_SPLIT_ROUNDS = 3

# Pair-tier training-sample ceiling (r11, VERDICT r10 #3): the r10
# 800k audit capped K at IVF_SAMPLE//8 = 256 and the measured price
# was PAIR RECALL, not just balance — 0.4668 vs the sampled exact
# truth at threshold 0.4, while the uncapped-K config (sample 8192,
# K=1100) measured BOTH better recall (0.4882) and a 3x smaller
# Σ list²/n² (0.00556 vs 0.0174; STRESS_r11 `pair_recall_sweep`).
# Bigger lists under a capped K do not buy co-occurrence — they buy
# quadratic GEMM work. The pair tier therefore sizes its OWN sample
# adaptively (8 training points per wanted list, the same 1/8 ratio
# as the fixed-sample regime) up to this ceiling; past it (~2M
# vectors at the current constants) the ceiling is the knob to raise
# with driver memory, same structure as before but 4x further out.
# Driver cost stays bounded: Lloyd over 16384x64 with K=2048 runs in
# matmul form (:func:`_sq_dists`) — the naive broadcast-difference
# tensor at that shape is 17 GB and was the real reason the old code
# could not afford a bigger sample.
PAIR_SAMPLE_MAX = 16384


def _sq_dists(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """|x-c|² via the matmul expansion x²-2x·c+c² — O(|X|·|C|) memory
    instead of the O(|X|·|C|·dim) broadcast-difference tensor (17 GB
    at the pair-tier ceiling). Used by the pair-tier trainer and the
    hot-split ownership counts; mlops._lloyd keeps its original form
    so the QUERY tier's trained centroids (and the r9 recall rows)
    are bit-for-bit untouched."""
    return (
        (X**2).sum(axis=1, keepdims=True)
        - 2.0 * (X @ C.T)
        + (C**2).sum(axis=1)[None, :]
    )


def _lloyd_pairs(sample: "np.ndarray", k: int, seed: int = 42,
                 iters: int = 10) -> "np.ndarray":
    """Pair-tier Lloyd: same deterministic regime as mlops._lloyd
    (fixed seed, fixed iterations) but matmul-form distances so the
    adaptive sample (up to PAIR_SAMPLE_MAX x K=2048) stays driver-
    affordable. Only the SYMMETRIC pair tier trains with this —
    fixture-scale corpora sit below GEMM_EXACT_MAX and never reach a
    quantizer, so no oracle-hashed result depends on these
    centroids."""
    rng = np.random.RandomState(seed)
    C = sample[rng.choice(len(sample), k, replace=False)].copy()
    for _ in range(iters):
        a = _sq_dists(sample, C).argmin(axis=1)
        for j in range(k):
            pts = sample[a == j]
            if len(pts):
                C[j] = pts.mean(axis=0)
    return C


def _split_hot_centroids(
    sample: "np.ndarray", C: "np.ndarray", target_share: float, probes: int
) -> "np.ndarray":
    """Iteratively split centroids owning > _LIST_SPLIT_FACTOR x
    ``target_share`` sample points until balanced (or the round cap).
    Ownership counts each sample point toward its top-``probes``
    centroids — the SAME multi-assignment the corpus gets — so the
    sample share is an unbiased estimate of the actual list size (a
    first-choice-only count undercounts hot boundary regions by up to
    p×). Deterministic: fixed seeds, stable argsort; sub-splits train
    on first-choice members (each point feeds one Lloyd)."""
    for _ in range(_LIST_SPLIT_ROUNDS):
        d2 = _sq_dists(sample, C)
        p = min(probes, len(C))
        top = np.argsort(d2, kind="stable", axis=1)[:, :p]
        counts = np.bincount(top.ravel(), minlength=len(C))
        hot = np.flatnonzero(counts > _LIST_SPLIT_FACTOR * target_share)
        if not len(hot):
            break
        first = top[:, 0]
        kept = [C[j] for j in range(len(C)) if j not in set(hot.tolist())]
        for j in hot:
            pts = sample[first == j]
            if len(pts) < 2:
                kept.append(C[j])
                continue
            k_sub = min(
                len(pts),
                max(2, -(-int(counts[j]) // max(1, int(target_share)))),
            )
            kept.extend(_lloyd_pairs(pts, k=k_sub, seed=17 + int(j)))
        C = np.asarray(kept)
    return C


def _pair_training_sample(
    emb: DataFrame, n_rows: int
) -> tuple["np.ndarray", int]:
    """(training sample of unit vectors, K) for the pair-tier
    quantizer — the deterministic strided collect `_pair_centroids`
    trains on, exposed separately so tests can pin the trainer on the
    ACTUAL fixture sample (ADVICE r11: the matmul-form `_lloyd_pairs`
    must reproduce the broadcast-form `mlops._lloyd` on this exact
    input, or near-tie argmin flips could silently drift fixture
    rows)."""
    from .mlops import IVF_SAMPLE

    k_wanted = max(8, -(-(IVF_PAIR_PROBES * n_rows) // IVF_TARGET_LIST))
    sample_n = min(PAIR_SAMPLE_MAX, max(IVF_SAMPLE, 8 * k_wanted))
    k = min(k_wanted, sample_n // 8)
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    unit = emb.select(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") / norm
        ).alias("unit"),
        "vec_id",
    )
    stride = max(1, -(-n_rows // sample_n))
    rows = (
        unit.filter(F.col("vec_id") % stride == 0)
        .select("unit")
        .limit(sample_n)
        .collect()
    )
    return np.array([r.unit for r in rows]), k


def _pair_centroids(emb: DataFrame, n_rows: int) -> "np.ndarray":
    """Coarse centroids for symmetric pair generation: deterministic
    strided sample of unit vectors (bounded — grows with the wanted
    list count up to PAIR_SAMPLE_MAX, then flat) → driver-side Lloyd
    → hot-centroid split (:func:`_split_hot_centroids`) so no single
    list dominates the Σ list² pair budget. K scales as
    p·n/IVF_TARGET_LIST so list size — and with it per-list GEMM
    work — stays bounded as the corpus grows."""
    # K sized for the MULTI-assigned membership count (each vector
    # lands in IVF_PAIR_PROBES lists, so p·n memberships must spread
    # over K lists of ~IVF_TARGET_LIST): the r9 single-assign sizing
    # delivered mean lists of p x the target — 2x the per-list GEMM
    # budget the docstring promised (measured: mean 4,000 at the 100x
    # stress corpus; Σ list² halves under this correction).
    #
    # The training SAMPLE grows with the wanted K (8 points per list,
    # the fixed-sample regime's ratio) up to PAIR_SAMPLE_MAX, so K is
    # only capped past ~2M vectors: the r10 fixed-sample cap at 256
    # lists measured WORSE on both axes at 800k — pair recall 0.4668
    # vs 0.4882 and Σ list²/n² 0.0174 vs 0.00556 (STRESS_r11
    # `pair_recall_sweep`). Below the old crossover (~262k vectors)
    # the sample stays at IVF_SAMPLE and K at the corpus-anchored
    # value, so the r9/r10 10x/100x evidence still describes this
    # code.
    sample, k = _pair_training_sample(emb, n_rows)
    C = _lloyd_pairs(sample, k=k)
    # target sample share of one list = IVF_TARGET_LIST scaled from
    # corpus rows to sample rows (top-p ownership on both sides, so no
    # p factor appears: m_j/|sample| estimates list_j/n directly).
    # Floor it at the ACHIEVABLE mean ownership under the chosen K
    # (p·|sample|/K): once the IVF_SAMPLE//8 cap binds K (n > ~262k at
    # the current constants), mean list size necessarily exceeds the
    # corpus-anchored target, and a threshold below the mean would
    # flag EVERY centroid of a perfectly uniform corpus as hot —
    # shattering the quantizer into sub-centroids trained on ~2 sample
    # points each. "Hot" must always mean "vs what K can deliver",
    # not "vs a list size K cannot express". In the uncapped regime
    # the two anchors coincide (K ≈ p·n/L ⇒ p·|sample|/K ≈
    # L·|sample|/n), so tested behavior is unchanged.
    target_share = max(
        1.0,
        IVF_TARGET_LIST * len(sample) / max(1, n_rows),
        IVF_PAIR_PROBES * len(sample) / max(1, len(C)),
    )
    return _split_hot_centroids(sample, C, target_share, IVF_PAIR_PROBES)


def _multi_assign_udf(centers: "np.ndarray", probes: int):
    """Arrow-vectorized top-``probes`` nearest-centroid assignment
    (array<long> of list ids). Same matmul form as mlops._assign_udf;
    ties break on centroid index via stable argsort, so assignment is
    deterministic."""
    C = centers
    c2 = (C**2).sum(axis=1)
    p = min(probes, len(C))

    @pandas_udf("array<long>")
    def _assign(embs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in embs.to_numpy()])
        n = np.linalg.norm(X, axis=1, keepdims=True)
        X = X / np.where(n == 0, 1.0, n)
        d2 = (X**2).sum(axis=1, keepdims=True) - 2 * (X @ C.T) + c2[None, :]
        idx = np.argsort(d2, kind="stable", axis=1)[:, :p]
        return pd.Series(list(idx.astype(np.int64)))

    return _assign


def _list_tile_exploded(assigned: DataFrame, chunk: int) -> DataFrame:
    """Per-list analogue of :func:`_tile_exploded`: tile index comes
    from the vector's rank WITHIN its list (vec_ids are sparse per
    list), and the tile-pair fan-out uses the per-list tile count.
    Shuffle volume is Σ_list n_list x (n_list/chunk + 1) rows."""
    w = Window.partitionBy("lst").orderBy("vec_id")
    wc = Window.partitionBy("lst")
    ranked = assigned.select(
        "vec_id",
        "embedding",
        "lst",
        ((F.row_number().over(w) - F.lit(1)) / chunk).cast("int").alias("tile"),
        F.ceil(F.count(F.lit(1)).over(wc) / F.lit(chunk))
        .cast("int")
        .alias("n_tiles"),
    )
    left = F.transform(
        F.sequence(F.lit(0), F.col("tile")),
        lambda i: F.struct(i.alias("ti"), F.col("tile").alias("tj")),
    )
    right = F.when(
        F.col("tile") + 1 <= F.col("n_tiles") - 1,
        F.transform(
            F.sequence(F.col("tile") + 1, F.col("n_tiles") - 1),
            lambda j: F.struct(F.col("tile").alias("ti"), j.alias("tj")),
        ),
    ).otherwise(F.array().cast("array<struct<ti:int,tj:int>>"))
    return ranked.select(
        "vec_id",
        "embedding",
        "lst",
        "tile",
        F.explode(F.concat(left, right)).alias("tp"),
    ).select("vec_id", "embedding", "lst", "tile", "tp.ti", "tp.tj")


def _ivf_assigned(emb: DataFrame, n_rows: int, probes: int) -> DataFrame:
    centers = _pair_centroids(emb, n_rows)
    return emb.select(
        "vec_id",
        "embedding",
        F.explode(
            _multi_assign_udf(centers, probes)(F.col("embedding"))
        ).alias("lst"),
    )


def _ivf_gemm_candidate_pairs(
    emb: DataFrame,
    n_rows: int,
    threshold: float,
    chunk: int = GEMM_CHUNK,
    probes: int = IVF_PAIR_PROBES,
) -> DataFrame:
    """Within-list tiled-GEMM candidates: multi-assign → per-list tile
    pairs → the shared :func:`_pairs_tile_kernel` → distinct (a pair
    sharing two lists is generated twice). Approximate by construction:
    a qualifying pair whose members share NO coarse list is missed —
    recall vs the exact kernel is pinned in tests, and the MEASURED
    contract at 800k vectors (STRESS_r11 `pair_threshold_curve`) is
    that of a NEAR-DUP miner: recall ≥ 0.9975 for cosine ≥ 0.7 and
    1.0 at ≥ 0.9, degrading toward the similarity noise floor (0.21
    in the [0.4,0.5) band, where the stress corpus holds 740k+ weakly
    similar pairs per 1k probes — exhaustive mining at such densities
    is the exact kernel's job). ``probes`` is the caller-facing recall
    knob: p=3 lifts threshold-0.4 recall 0.488 → 0.571 at 2.5x the
    Σ list² budget (`pair_recall_sweep`)."""
    assigned = _ivf_assigned(emb, n_rows, probes)
    exploded = _list_tile_exploded(assigned, chunk)
    cut = threshold - _GEMM_MARGIN

    def _gemm(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _lst, ti, tj = key
        return _pairs_tile_kernel(pdf, ti, tj, cut)

    return (
        exploded.groupBy("lst", "ti", "tj")
        .applyInPandas(_gemm, "id_a long, id_b long")
        .distinct()
    )


# Measured competence floor of the IVF pair tier (STRESS_r11
# `pair_threshold_curve`, 800k vectors, default p=2): recall by
# requested-threshold band is 1.0 at cosine ≥ 0.9, ≥ 0.9975 at ≥ 0.7,
# 0.7559 in [0.6,0.7) (a 299-pair band — noisy estimate), collapsing
# through 0.43 in [0.5,0.6) to 0.208 in the [0.4,0.5) noise-floor
# band (where the stress corpus holds ~740k weakly-similar pairs per
# 1k probes — densities that are the exact kernel's job). Above
# GEMM_EXACT_MAX the tier is therefore a NEAR-DUP MINER and a
# requested threshold below this floor must not silently return <50%
# of qualifying pairs — the same refusal idiom as
# functions/influxql.py::_bounded_index. The floor sits at the
# VERDICT-r11 band edge: ≥ 0.6 is the miner's working range (recall
# 0.76+ and rising fast), < 0.6 is the collapse.
PAIR_BAND_MIN = 0.6


def _gemm_threshold_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    chunk: int = GEMM_CHUNK,
    below_band: str = "refuse",
) -> DataFrame:
    """Tiled-GEMM candidates → exact fold-dot verify. The candidate
    set is exact-with-margin below GEMM_EXACT_MAX (the fixture regime,
    so driver hashes are unchanged) and IVF-list-bounded above it (the
    plan that still exists at 10⁹ vectors); either way the verify joins
    touch only qualifying pairs (+ a margin sliver) and the emitted
    cosine comes from the same Spark-side fold/round expressions as
    every other scored query, keeping bit-parity with the DuckDB
    oracle.

    ENFORCED recall contract (VERDICT r11 #2): above the gate a
    ``threshold`` below :data:`PAIR_BAND_MIN` sits outside the IVF
    tier's measured competence band and the call REFUSES by default
    with the curve citation. ``below_band`` is the caller's explicit
    escape hatch: ``"exact"`` routes to the exact corpus²-tile kernel
    (recall 1.0 — pay the quadratic tile fan-out knowingly; at 800k
    vectors the exact broadcast-scan truth cost 224.9 s vs the IVF
    tier's 485 s *with* a 0.47 recall, STRESS_r11 `ann_800k`, so
    exact is also the CHEAPER plan at noise-floor densities);
    ``"approx"`` accepts the measured sub-band recall knowingly
    (probes=3 lifts threshold-0.4 recall 0.488 → 0.571 at 2.5× the
    Σ list² budget, `pair_recall_sweep`)."""
    if below_band not in ("refuse", "exact", "approx"):
        raise ValueError(
            f"below_band={below_band!r} is not one of "
            "('refuse', 'exact', 'approx') — a misspelled escape hatch "
            "must fail loudly, not silently fall back to refusal"
        )
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    n_rows = table_row_count(sf_dir, "embeddings")
    if n_rows <= GEMM_EXACT_MAX:
        cand = _gemm_candidate_pairs(emb, n_rows, threshold, chunk)
    elif below_band == "exact":
        # explicit exactness wins over the band check: a caller who
        # asked for the recall-1.0 kernel must get it even in-band
        # (the IVF tier is 0.7559 recall in [0.6,0.7))
        cand = _gemm_candidate_pairs(emb, n_rows, threshold, chunk)
    elif threshold >= PAIR_BAND_MIN or below_band == "approx":
        cand = _ivf_gemm_candidate_pairs(emb, n_rows, threshold, chunk)
    else:
        raise ValueError(
            f"pair threshold {threshold} is below the IVF pair tier's "
            f"measured competence band (recall ≥ 0.9975 only at cosine "
            f"≥ 0.7; 0.21 in [0.4,0.5) — STRESS_r11 "
            f"`pair_threshold_curve` at 800k vectors) and the corpus "
            f"({n_rows} rows) is above GEMM_EXACT_MAX={GEMM_EXACT_MAX}. "
            f"Either raise the threshold to ≥ PAIR_BAND_MIN="
            f"{PAIR_BAND_MIN}, pass below_band='exact' for the exact "
            f"corpus²-tile kernel (recall 1.0, and measured CHEAPER "
            f"than the IVF tier at noise-floor pair densities), or "
            f"pass below_band='approx' to accept the measured sub-band "
            f"recall (escalate probes= for 0.488 → 0.571 at p=3)."
        )
    return _verify_cosine_pairs(emb, cand, threshold)


def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs (a < b) with cosine >= SIM_THRESHOLD (0.4),
    with their labels — the 'find all near-duplicate embeddings'
    sweep. Candidates from the tiled-GEMM exact all-pairs kernel
    (recall 1.0 by construction — the margin covers rounding) up to
    GEMM_EXACT_MAX vectors, and from the same kernel run WITHIN
    multi-probed IVF lists above it (compute ∝ Σ list², the plan that
    survives 10⁹ vectors); then the shared fold-dot verify. The oracle
    below is the brute-force formulation, so the driver gate re-proves
    equality on the (exact-path) fixtures. The blocked LSH path
    (:func:`_threshold_pairs_verified`) is NOT used here: at a
    noise-floor threshold its candidate join materializes every pair
    ~6 times (measured 164 s vs <20 s at sf1.0).

    Above GEMM_EXACT_MAX this entry REFUSES rather than run the IVF
    tier at SIM_THRESHOLD=0.4 — 0.4 sits below the tier's measured
    competence band (recall 0.21–0.49 there vs ≥ 0.9975 at ≥ 0.7,
    STRESS_r11 `pair_threshold_curve`), and a registered query must
    not silently lose half its pairs at scale. Callers who want the
    sub-band sweep at 10⁹ vectors call :func:`_gemm_threshold_pairs`
    directly with below_band='exact' (recall 1.0) or 'approx'
    (measured sub-band recall, probes as the knob)."""
    # label legs carry only (vec_id, label) straight into the attach
    # join's hash exchange — loading them REBALANCED stacked a full
    # round-robin Exchange directly under that hash Exchange (plan
    # nodes 28/36 of plans/r14/sim_threshold_pairs_before.txt): one
    # wasted corpus-wide shuffle per leg at any scale (guide §2.4).
    # The verify path keeps its rebalanced scan inside
    # _gemm_threshold_pairs (its fold-dot is real per-row CPU).
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    pairs = _gemm_threshold_pairs(spark, sf_dir, SIM_THRESHOLD)
    la = labels.select(F.col("vec_id").alias("id_a"), F.col("label").alias("label_a"))
    lb = labels.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"))
    # label attach is shuffle-hash with the (vec_id, label) projection
    # as build side, NOT broadcast (r9 broadcast census): the label
    # table is corpus-sized — one row per vector — and a forced
    # broadcast of it is the static-BroadcastExchange driver-kill
    # class at real scale; SHJ keeps the build per-partition-bounded
    return (
        pairs.join(la.hint("shuffle_hash"), "id_a")
        .join(lb.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", "cosine", "label_a", "label_b")
    )


def sim_threshold_pairs_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs baseline (a < b, cosine >= threshold). The
    O(n²) formulation — kept ONLY as the recall reference for tests;
    not a registered query (a crossJoin over the corpus is exactly the
    plan the blocked variant exists to avoid)."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    a = _with_norm(emb, "id_a", "va")
    b = _with_norm(emb, "id_b", "vb")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (F.col("id_a_norm") * F.col("id_b_norm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= SIM_THRESHOLD)
        .select("id_a", "id_b", "cosine")
    )


SIM_THRESHOLD_PAIRS_SQL = f"""
WITH v AS (
    SELECT vec_id, label, embedding, {_NORM_SQL} AS norm FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
             / (a.norm * b.norm), 6) AS cosine,
       a.label AS label_a, b.label AS label_b
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
            / (a.norm * b.norm), 6) >= {SIM_THRESHOLD}
"""


# --------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path; rows-only + recall tests)
# --------------------------------------------------------------------------

def _hyperplanes(n_planes: int = LSH_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG, no numpy
    state): plane[k][i] in [-1, 1]. One LCG stream — the first k planes
    are identical for every n_planes, so every consumer (single-table
    ANN buckets, multi-block threshold candidates) shares the same
    geometry prefix."""
    planes = []
    state = 0x5DEECE66D
    for _ in range(n_planes):
        row = []
        for _ in range(64):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 20) % 2000001) / 1000000.0 - 1.0)
        planes.append(row)
    return planes


def _bucket_expr(vec: Column, n_planes: int = LSH_PLANES) -> Column:
    """Random-hyperplane sign bucket: bit k = sign(vec . plane_k).
    The LCG stream in :func:`_hyperplanes` makes the first 6 planes of
    any larger geometry identical to the fixture's, so the sub-gate
    bucket ids (and the DuckDB oracle that inlines them) are untouched
    by the corpus-scaled plane count."""
    planes = _hyperplanes(n_planes)
    bucket = F.lit(0)
    for k, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(_dot(vec, plane_col) > 0, F.lit(1 << k)).otherwise(
            F.lit(0)
        )
    return bucket


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: candidates restricted to the query's hyperplane-sign
    bucket, then exact cosine re-rank. Equi-join on bucket replaces
    the cross join — the O(collisions) scale path. Recall vs the
    brute-force baseline is asserted in tests/test_similarity.py
    (multi-probe over single-bit flips keeps recall usable).

    Geometry is corpus-scaled (VERDICT r12 #1, the r8 ``_ivf_k``
    lesson): at or below ``LSH_SCALE_GATE`` the fixture's 6-plane
    bucketing (oracle-checked — the DuckDB twin inlines those planes)
    is used; above it :func:`_lsh_planes` derives
    ``ceil(log2(n / LSH_TARGET_BUCKET))`` planes so the hamming-2
    multi-probe join scans ~probes/2^p of the corpus instead of the
    34% the fixed 6-plane geometry scanned at 800k (STRESS_r12
    `lsh_800k`: 125.2 s vs the 48.6 s exact broadcast scan — strictly
    dominated). The scaled geometry's 800k row is STRESS_r13
    `lsh_800k`; recall is pinned there and by the clustered above-gate
    test in tests/test_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    n_planes = _lsh_planes(table_row_count(sf_dir, "embeddings"))
    v = _with_norm(emb, "vid", "vv").withColumn(
        "bucket", _bucket_expr(F.col("vv"), n_planes)
    )
    # multi-probe: query vectors also probe every bucket within hamming
    # distance 2 (1 + p + p(p-1)/2 buckets of 2^p) — the standard
    # multi-probe LSH trade of probe count for recall
    flips = [0] + [1 << k for k in range(n_planes)] + [
        (1 << k) | (1 << j)
        for k in range(n_planes)
        for j in range(k + 1, n_planes)
    ]
    probes = v.select(
        "vid", "vv", F.col("vid_norm").alias("norm"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips])
        ).alias("probe_bucket"),
    )
    q = probes.filter(F.col("vid") < N_QUERIES).select(
        F.col("vid").alias("query_id"), F.col("vv").alias("qv"),
        F.col("norm").alias("q_norm"), F.col("probe_bucket"),
    )
    c = v.select(
        F.col("vid").alias("neighbor_id"), F.col("vv").alias("cv"),
        F.col("vid_norm").alias("c_norm"), F.col("bucket").alias("probe_bucket"),
    )
    cand = (
        q.join(c, "probe_bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv", "q_norm", "c_norm")
        .distinct()
        .withColumn(
            "cosine",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _unrolled_lit_dot(vec: str, plane: list[float]) -> str:
    """Left-associated dot of a column vector against LITERAL plane
    values: ``(((0.0 + v[1]*p1) + v[2]*p2) + ...)``. Bit-identical to
    the list_reduce fold (same IEEE sequence — verified) but ~30x
    faster in DuckDB: the lambda fold is interpreted per element, plain
    arithmetic is vectorized. repr() round-trips every double exactly."""
    e = "0.0::DOUBLE"
    for i, p in enumerate(plane, start=1):
        e = f"({e} + {vec}[{i}]::DOUBLE * {p!r})"
    return e


def _bucket_sql(vec: str) -> str:
    """DuckDB twin of :func:`_bucket_expr`: the hyperplane values are
    module constants (seeded LCG), so they inline as SQL literals, and
    the unrolled dot keeps the Spark fold's exact IEEE order — the sign
    test agrees bit-for-bit."""
    parts = []
    for k, plane in enumerate(_hyperplanes()):
        d = _unrolled_lit_dot(vec, plane)
        parts.append(f"CASE WHEN {d} > 0 THEN {1 << k} ELSE 0 END")
    return "(" + "\n + ".join(parts) + ")"


def _lsh_flips() -> list[int]:
    """Multi-probe masks: identity, all 1-bit, all 2-bit flips."""
    return (
        [0]
        + [1 << k for k in range(LSH_PLANES)]
        + [
            (1 << k) | (1 << j)
            for k in range(LSH_PLANES)
            for j in range(k + 1, LSH_PLANES)
        ]
    )


# Full oracle for the multi-probe LSH ANN: every stage (hyperplane-sign
# bucket, hamming<=2 probe expansion, exact cosine re-rank) is
# deterministic, so the approximate structure itself is reproducible in
# SQL — upgrading this entry from rows-only to hash-checked.
SIM_ANN_LSH_SQL = f"""
WITH v AS MATERIALIZED (
    SELECT vec_id, embedding, {_NORM_SQL} AS norm,
           {{bucket}} AS bucket
    FROM embeddings
), probes AS (
    SELECT vec_id, xor(bucket, f.m) AS probe_bucket
    FROM v, unnest({_lsh_flips()}) AS f(m)
    WHERE vec_id < {N_QUERIES}
), cand AS (
    SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM probes p JOIN v c ON p.probe_bucket = c.bucket
    WHERE p.vec_id <> c.vec_id
), scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                 / (q.norm * c.norm), 6) AS cosine
    FROM cand
    JOIN v q ON q.vec_id = cand.query_id
    JOIN v c ON c.vec_id = cand.neighbor_id
), ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOPK}
""".replace("{bucket}", _bucket_sql("embedding"))


# --------------------------------------------------------------------------
# Grouped-map pandas UDF (applyInPandas): per-label centroid
# --------------------------------------------------------------------------

def sim_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (grouped-map ``applyInPandas``):
    each label's vectors arrive as one Arrow batch, NumPy reduces to a
    mean vector, and the summary row carries its L2 norm. This is the
    grouped-map UDF surface (IVF centroid training, per-cluster stats)
    — groupBy shuffles by label, then the kernel is embarrassingly
    parallel per group. Skewed label cardinality is the risk at 10^9
    vectors; the fix is the standard two-phase mean (per-partition
    partial sums, then combine), which stays pure DataFrame."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        c = m.sum(axis=0) / len(m)
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [len(m)],
                "centroid_norm": [round(float(np.sqrt((c * c).sum())), 6)],
            }
        )

    return emb.select("label", "embedding").groupBy("label").applyInPandas(
        centroid, "label long, n_vecs long, centroid_norm double"
    )


# --------------------------------------------------------------------------
# Grouped-AGGREGATE pandas UDF: per-label trimmed-mean embedding norm
# --------------------------------------------------------------------------

def sim_label_trimmed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label 10%-trimmed mean of embedding L2 norms — the
    grouped-AGGREGATE pandas UDF surface (``pandas_udf`` returning a
    scalar, used INSIDE ``groupBy().agg()``; SURVEY §2 Tier C UDF row
    alongside scalar and grouped-map). Trimming (drop the floor(n/10)
    lowest and highest values) is the robust-statistics kernel SQL
    can't express without window gymnastics but NumPy does in a slice.

    Determinism for the hash gate: norms round to 6 dp and scale to
    EXACT integers before aggregation, so the sum is order-independent
    (associative integer addition) — the same round-the-exact-sum
    discipline as the time-series tier. Trimming is by VALUE on the
    sorted array, so ties are multiset-stable across engines.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    n6 = emb.select(
        "label",
        F.round(F.round(F.sqrt(_dot(vec, vec)), 6) * 1e6)
        .cast("long")
        .alias("n6"),
    )

    @pandas_udf("long")
    def trimmed_sum(v: pd.Series) -> int:
        x = np.sort(v.to_numpy(np.int64))
        k = len(x) // 10
        sel = x[k:len(x) - k] if len(x) > 2 * k else x
        return int(sel.sum())

    @pandas_udf("long")
    def trimmed_count(v: pd.Series) -> int:
        n = len(v)
        k = n // 10
        return n - 2 * k if n > 2 * k else n

    out = n6.groupBy("label").agg(
        trimmed_sum("n6").alias("tsum"),
        trimmed_count("n6").alias("n_used"),
    )
    return out.select(
        "label",
        "n_used",
        F.round(F.col("tsum") / 1e6 / F.col("n_used"), 6).alias(
            "trimmed_mean_norm"
        ),
    )


SIM_LABEL_TRIMMED_NORM_SQL = f"""
WITH v AS (
    SELECT label,
           CAST(round(round({_NORM_SQL}, 6) * 1000000, 0) AS BIGINT) AS n6
    FROM embeddings
), r AS (
    SELECT label, n6,
           row_number() OVER (PARTITION BY label ORDER BY n6) AS rn,
           count(*) OVER (PARTITION BY label) AS n
    FROM v
)
SELECT label, count(*) AS n_used,
       round((sum(n6) / 1000000.0) / count(*), 6) AS trimmed_mean_norm
FROM r
WHERE rn > n // 10 AND rn <= n - n // 10
GROUP BY label
"""


SIM_LABEL_CENTROID_SQL = """
WITH dims AS (
    SELECT label, i, sum(embedding[i]::DOUBLE) / count(*) AS c
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
), cnt AS (
    SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label
)
SELECT d.label, any_value(n_vecs) AS n_vecs,
       round(sqrt(sum(c * c)), 6) AS centroid_norm
FROM dims d JOIN cnt USING (label)
GROUP BY d.label
"""


KNN_K = 3


def sim_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT k-nearest-neighbor graph: top-KNN_K cosine neighbors for
    EVERY corpus vector (not just a query subset), ties broken by
    neighbor id — the oracle-checkable anchor for the whole ANN tier
    (VERDICT r3 "Next round" #1). ``sim_knn_graph`` is the blocked
    approximation of exactly this relation, and its recall gate
    (tests/test_similarity.py) asserts against THIS query's output, so
    once the driver proves this row hash-green vs DuckDB, every
    ANN recall floor is transitively anchored to an oracle.

    Scale note: an exact kNN GRAPH is inherently all-pairs — O(n²)
    no matter the engine — so this is deliberately NOT the scale path
    (sim_knn_graph's block candidates are). It is registered as the
    exactness baseline. The n² dot products run as the UNMASKED tiled
    GEMM (``_gemm_block_knn_candidates(masked=False)``: BLAS tile
    scores + per-tile top-k-with-margin, a provable superset of the
    rounded top-k — no approximation anywhere), and only the ~n·k
    survivors are re-scored with the order-stable fold, so the emitted
    doubles stay bit-identical to the brute-force oracle below while
    the interpreted fold never touches n² rows (3.5 s → ~1 s at
    sf0.1 vs the BroadcastNestedLoopJoin fold this replaced).
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    n_rows = table_row_count(sf_dir, "embeddings")
    cand = _gemm_block_knn_candidates(emb, n_rows, masked=False)
    q = _with_norm(emb, "vec_id", "qv")
    c = _with_norm(emb, "neighbor_id", "cv")
    scored = (
        cand.join(q, "vec_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("vec_id_norm") * F.col("neighbor_id_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


SIM_KNN_EXACT_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings
), scored AS (
    SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
           round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                 / (q.norm * c.norm), 6) AS cosine
    FROM v q JOIN v c ON q.vec_id <> c.vec_id
), ranked AS (
    SELECT vec_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {KNN_K}
"""


# Margin for the GEMM pre-rank inside _gemm_block_knn_candidates: the
# final rank orders by round(fold_cosine, 6), so a neighbor whose raw
# GEMM score trails the per-vector kth by up to one rounding quantum
# (1e-6) can still round EQUAL and then win the neighbor_id tie-break.
# 2e-6 covers the quantum plus the <1e-12 GEMM-vs-fold delta, so the
# survivor set provably contains the exact rounded top-k.
_KNN_GEMM_MARGIN = 2e-6


def _knn_tile_kernel(
    pdf: pd.DataFrame,
    ti: int,
    tj: int,
    k: int,
    H: "np.ndarray",
    w: "np.ndarray",
    empty: pd.DataFrame,
) -> pd.DataFrame:
    """Pure-pandas block-masked kNN tile scorer shared by the
    global-tile and IVF-list plans: one float64 matmul scores the
    (ti, tj) tile pair, the 48-plane sign matmul applies the
    hyperplane-block candidate mask in-kernel, and each vector keeps
    its local top-k (+ margin)."""
    a = pdf[pdf["tile"] == ti]
    b = pdf[pdf["tile"] == tj] if ti != tj else a
    if a.empty or b.empty:
        return empty
    A = np.stack([np.asarray(v, dtype=np.float64) for v in a["embedding"]])
    B = (
        A
        if ti == tj
        else np.stack([np.asarray(v, dtype=np.float64) for v in b["embedding"]])
    )
    na = np.linalg.norm(A, axis=1)
    nb = na if ti == tj else np.linalg.norm(B, axis=1)
    na = np.where(na == 0, 1.0, na)
    nb = np.where(nb == 0, 1.0, nb)
    scores = (A / na[:, None]) @ (B / nb[:, None]).T
    ids_a = a["vec_id"].to_numpy()
    ids_b = b["vec_id"].to_numpy() if ti != tj else ids_a
    if H is None:
        # unmasked (exact) variant: every cross pair is a candidate
        match = np.ones(scores.shape, dtype=bool)
    else:
        blk_a = (
            ((A @ H.T) > 0).reshape(len(A), N_BLOCKS, BLOCK_BITS) @ w
        )  # (na, 24) block values
        blk_b = (
            blk_a
            if ti == tj
            else ((B @ H.T) > 0).reshape(len(B), N_BLOCKS, BLOCK_BITS) @ w
        )
        match = (blk_a[:, None, :] == blk_b[None, :, :]).any(axis=-1)
    if ti == tj:
        match &= ids_a[:, None] != ids_b[None, :]

    qs, ns, gs = [], [], []

    def _local_topk(M: np.ndarray, qids: np.ndarray, nids: np.ndarray) -> None:
        kk = min(k, M.shape[1])
        if kk == 0:
            return
        kth = -np.partition(-M, kk - 1, axis=1)[:, kk - 1]
        keep = np.isfinite(M) & (M >= kth[:, None] - _KNN_GEMM_MARGIN)
        qi, ni = np.nonzero(keep)
        qs.append(qids[qi])
        ns.append(nids[ni])
        gs.append(M[qi, ni])

    masked = np.where(match, scores, -np.inf)
    _local_topk(masked, ids_a, ids_b)
    if ti != tj:
        _local_topk(masked.T, ids_b, ids_a)
    if not qs:
        return empty
    return pd.DataFrame(
        {
            "vec_id": np.concatenate(qs),
            "neighbor_id": np.concatenate(ns),
            "gemm": np.concatenate(gs),
        }
    )


def _gemm_block_knn_candidates(
    emb: DataFrame,
    n_rows: int,
    k: int = KNN_K,
    chunk: int = GEMM_CHUNK,
    masked: bool = True,
) -> DataFrame:
    """(vec_id, neighbor_id) kNN survivor pairs via tiled GEMM with the
    hyperplane-block candidate mask applied INSIDE the kernel.

    Semantics are identical to scoring ``_block_candidate_pairs``
    output and cutting to top-k: per tile pair one float64 matmul
    scores all cross-tile dots, one (48-plane sign matmul → 24x2-bit
    block values) comparison masks out pairs sharing NO block (the
    same candidate criterion, computed from the same ``_hyperplanes``
    stream with the same matmul orientation as ``_block_keys_udf``),
    and each vector keeps its local top-k plus everything within
    ``_KNN_GEMM_MARGIN`` of the local kth score. Any neighbor in the
    global rounded top-k ranks <= k within its own tile pair up to
    the margin, so the union of local survivors is a superset of the
    exact answer; the caller re-scores survivors with the order-stable
    fold so the emitted doubles stay bit-identical to the oracle.

    Replaces the 2M-row fold-dot verify the block equi-join needed at
    kNN (threshold -inf: NOTHING prunes, measured 8.5 s at sf0.1 for
    2000 vectors vs ~1.5 s for this kernel). Survivor volume is
    n x (n/chunk + 1) x ~k rows — the per-pair fold now touches
    O(n*k), not O(n²).
    """
    exploded = _tile_exploded(emb, n_rows, chunk)
    # masked=False is the EXACT variant (sim_knn_exact's prune): every
    # cross pair scores, so the local-top-k-plus-margin union is a
    # provable superset of the true rounded top-k — no approximation.
    H = (
        np.array(_hyperplanes(N_BLOCKS * BLOCK_BITS), dtype=np.float64)
        if masked
        else None
    )
    w = 1 << np.arange(BLOCK_BITS)
    empty = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "gemm": pd.Series(dtype="float64"),
        }
    )

    def _kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = key
        return _knn_tile_kernel(pdf, ti, tj, k, H, w, empty)

    local = exploded.groupBy("ti", "tj").applyInPandas(
        _kernel, "vec_id long, neighbor_id long, gemm double"
    )
    # Global prune before the fold rescore: local survivors are
    # n x (n/chunk + 1) x ~k rows — at sf1.0 (21 tiles) that is ~1.3M
    # fold dots, most of which cannot reach the global top-k. Two
    # windows over the SKINNY (24-byte) survivor relation cut it to the
    # global top-k + margin (still provably a superset of the rounded
    # answer: every true top-k member's gemm clears the global kth by
    # more than the margin covers) so the expensive array-join rescore
    # touches only ~n*k rows at any scale. At few-tile corpora the
    # survivor set is already ~n*k and the extra windows cost more than
    # the ~2x rescore they save — skip the prune there.
    n_tiles = max(1, -(-n_rows // chunk))
    if n_tiles <= 4:
        return local.select("vec_id", "neighbor_id")
    return _global_knn_prune(local, k)


def _global_knn_prune(local: DataFrame, k: int) -> DataFrame:
    """Cut the union of local tile survivors to the global top-k (+
    margin) per vector before the expensive array-join rescore: two
    windows over the skinny 24-byte survivor relation. Still provably a
    superset of the rounded answer — every true top-k member's gemm
    clears the global kth by more than the margin covers."""
    wg = Window.partitionBy("vec_id").orderBy(
        F.desc("gemm"), F.asc("neighbor_id")
    )
    kth = F.max(F.when(F.col("gemm_rank") == k, F.col("gemm"))).over(
        Window.partitionBy("vec_id")
    )
    return (
        local.withColumn("gemm_rank", F.row_number().over(wg))
        .withColumn("kth", kth)
        .filter(
            F.col("kth").isNull()
            | (F.col("gemm") >= F.col("kth") - _KNN_GEMM_MARGIN)
        )
        .select("vec_id", "neighbor_id")
    )


def _ivf_block_knn_candidates(
    emb: DataFrame,
    n_rows: int,
    k: int = KNN_K,
    chunk: int = GEMM_CHUNK,
    probes: int = IVF_PAIR_PROBES,
) -> DataFrame:
    """IVF-list analogue of :func:`_gemm_block_knn_candidates` — the
    kNN-graph plan that still exists at 10⁹ vectors: multi-assign to
    IVF_PAIR_PROBES coarse lists, run the SAME block-masked GEMM tile
    kernel within each list, take each vector's best gemm per neighbor
    across its lists (the same pair can score in two shared lists),
    then the same global top-k prune. Neighbors outside all of a
    vector's lists are missed by construction; recall vs the exact
    kernel is pinned in tests."""
    assigned = _ivf_assigned(emb, n_rows, probes)
    exploded = _list_tile_exploded(assigned, chunk)
    H = np.array(_hyperplanes(N_BLOCKS * BLOCK_BITS), dtype=np.float64)
    w = 1 << np.arange(BLOCK_BITS)
    empty = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "gemm": pd.Series(dtype="float64"),
        }
    )

    def _kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _lst, ti, tj = key
        return _knn_tile_kernel(pdf, ti, tj, k, H, w, empty)

    local = (
        exploded.groupBy("lst", "ti", "tj")
        .applyInPandas(_kernel, "vec_id long, neighbor_id long, gemm double")
        .groupBy("vec_id", "neighbor_id")
        .agg(F.max("gemm").alias("gemm"))
    )
    return _global_knn_prune(local, k)


def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole corpus (the
    SemDeDup / semantic-clustering building block: every vector gets
    its k best neighbors, not just a fixed query set).

    The candidate relation is the 24x2-bit hyperplane-block criterion
    (pairs sharing >= 1 block — the oracle below encodes exactly that
    structure); it is evaluated by the tiled-GEMM kernel with the block
    mask applied in-kernel (``_gemm_block_knn_candidates``), because at
    kNN the block equi-join prunes NOTHING (every pair is a candidate
    at threshold -inf) and scoring 2M materialized candidate rows with
    the per-pair fold costs 5x the BLAS tiles. Survivors (~n*k rows)
    are re-scored with the exact order-stable fold cosine, then cut to
    top-k per vector with a rank window — Spark plans that as
    WindowGroupLimit. Approximate by construction (vectors sharing no
    block can't be neighbors); recall floor vs the oracle-anchored
    ``sim_knn_exact`` is pinned in tests/test_similarity.py.
    Above GEMM_EXACT_MAX the kernel runs within coarse IVF lists
    (``_ivf_block_knn_candidates``) so compute is Σ list² ≪ n² — the
    plan that survives 10⁹ vectors; the fixtures stay on the exact
    tile path, keeping the driver hashes. Measured at the 800k
    capped-K frontier (STRESS_r12 `knn_800k`): full-graph
    construction 86 s at the default 8 GiB heap, recall@3 **1.0**
    (both strict-set and tie-fair-value) against the exact
    broadcast-scan truth on a 200-probe sample — unlike the
    low-threshold pair sweep, a vector's top-k neighbors are its
    nearest points and DO share coarse lists, so the capped-K recall
    collapse that hit the pair tier at threshold 0.4 does not apply.
    Deterministic tie-break: (cosine DESC, neighbor_id ASC).
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    n_rows = table_row_count(sf_dir, "embeddings")
    if n_rows <= GEMM_EXACT_MAX:
        cand = _gemm_block_knn_candidates(emb, n_rows)
    else:
        cand = _ivf_block_knn_candidates(emb, n_rows)
    q = _with_norm(emb, "vec_id", "qv")
    c = _with_norm(emb, "neighbor_id", "cv")
    scored = (
        cand.join(q, "vec_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("vec_id_norm") * F.col("neighbor_id_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


def _block_keys_sql(vec: str) -> str:
    """DuckDB twin of :func:`_block_keys_udf`: 24 two-bit block values
    from 48 inlined hyperplane-sign dots. The pandas kernel computes the
    signs with one BLAS matmul while this twin uses the sequential fold;
    their accumulation orders differ, so a dot EXACTLY at the sign
    boundary could in principle disagree — with ~unit vectors and
    O(1)-magnitude dots that needs |dot| under ~1e-13, far below
    anything the fixtures produce (the hash gate would catch it)."""
    planes = _hyperplanes(N_BLOCKS * BLOCK_BITS)
    vals = []
    for k in range(N_BLOCKS):
        terms = []
        for b in range(BLOCK_BITS):
            d = _unrolled_lit_dot(vec, planes[k * BLOCK_BITS + b])
            terms.append(f"CASE WHEN {d} > 0 THEN {1 << b} ELSE 0 END")
        vals.append("(" + " + ".join(terms) + ")")
    return "[" + ",\n".join(vals) + "]"


# Full oracle for the blocked kNN graph: the candidate structure
# (hyperplane-sign blocks), exact-cosine verify, symmetrization, and
# top-k rank are all deterministic — same upgrade as SIM_ANN_LSH_SQL.
# v is MATERIALIZED: DuckDB otherwise inlines the CTE into each of its
# three references and recomputes the 48 plane dots per JOIN ROW
# (measured 40 s -> 1.3 s at sf0.01 with materialize + unrolled dots).
SIM_KNN_GRAPH_SQL = f"""
WITH v AS MATERIALIZED (
    SELECT vec_id, embedding, {_NORM_SQL} AS norm,
           {{keys}} AS keys
    FROM embeddings
), idx AS (
    SELECT vec_id, t.i AS block_idx, keys[t.i] AS block_val
    FROM v, unnest(range(1, {N_BLOCKS} + 1)) AS t(i)
), cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM idx a JOIN idx b
      ON a.block_idx = b.block_idx AND a.block_val = b.block_val
     AND a.vec_id < b.vec_id
), scored AS (
    SELECT cand.id_a, cand.id_b,
           round({_DOT_SQL.format(a='x.embedding', b='y.embedding')}
                 / (x.norm * y.norm), 6) AS cosine
    FROM cand JOIN v x ON x.vec_id = cand.id_a
              JOIN v y ON y.vec_id = cand.id_b
), sym AS (
    SELECT id_a AS vec_id, id_b AS neighbor_id, cosine FROM scored
    UNION ALL
    SELECT id_b AS vec_id, id_a AS neighbor_id, cosine FROM scored
), ranked AS (
    SELECT vec_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM sym
)
SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {KNN_K}
""".replace("{keys}", _block_keys_sql("embedding"))


# --------------------------------------------------------------------------
# Embedding int8 quantization (storage/serving compression audit)
# --------------------------------------------------------------------------

def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the 4x storage compression an embedding-serving / vector-index
    pipeline applies before shipping vectors (absmax scaling, the
    standard llm.int8 / faiss SQ8 regime) — plus the reconstruction
    audit that decides whether the compression is safe.

    Determinism: absmax via array_max (exact, associative); codes are
    per-element round()s (identical single IEEE op in both engines);
    the reconstruction error folds sequentially in the same order in
    both engines and is reported in 1e-6 units so the 6-dp hash canon
    keeps signal. Zero vectors quantize to all-zero codes (nullif
    guard), not NULL/inf.

    Scale: pure per-row projection — no shuffle, no UDF, whole-stage
    codegen end to end; codes are emitted as a CSV string so the
    driver's column canon sees a scalar.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    arr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", arr.alias("arr")).select(
        "vec_id",
        "arr",
        F.array_max(F.transform(F.col("arr"), F.abs)).alias("amax"),
    )
    code = lambda x: F.coalesce(  # noqa: E731 - inline element kernel
        F.round(x * 127.0 / F.nullif(F.col("amax"), F.lit(0.0))).cast("int"),
        F.lit(0),
    )
    quant = base.select(
        "vec_id",
        "arr",
        "amax",
        F.transform(F.col("arr"), code).alias("codes"),
    )
    err2 = F.aggregate(
        F.zip_with(
            F.col("arr"),
            F.col("codes"),
            lambda x, c: F.pow(x - c * F.col("amax") / 127.0, 2),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return quant.select(
        "vec_id",
        F.round(F.col("amax"), 6).alias("amax6"),
        F.size(F.filter(F.col("codes"), lambda c: F.abs(c) == 127)).alias(
            "n_sat"
        ),
        F.array_join(F.col("codes"), ",").alias("codes_str"),
        F.round(err2 * 1e6 / 64, 6).alias("mse_e6"),
    )


EMB_QUANTIZE_INT8_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS arr
    FROM embeddings
), m AS (
    SELECT vec_id, arr,
           list_max(list_transform(arr, x -> abs(x))) AS amax
    FROM v
), q AS (
    SELECT vec_id, arr, amax,
           list_transform(arr, x -> coalesce(
               CAST(round(x * 127.0 / nullif(amax, 0.0), 0) AS INTEGER), 0))
               AS codes
    FROM m
)
SELECT vec_id,
       round(amax, 6) AS amax6,
       len(list_filter(codes, c -> abs(c) = 127)) AS n_sat,
       array_to_string(codes, ',') AS codes_str,
       round(list_reduce(
           list_prepend(0.0, list_transform(range(1, 65),
               i -> (arr[i] - codes[i] * amax / 127.0) ** 2)),
           (a, b) -> a + b) * 1e6 / 64, 6) AS mse_e6
FROM q
"""


# --------------------------------------------------------------------------
# Label-centroid assignment (clustering purity / SemDeDup stage 1)
# --------------------------------------------------------------------------

def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest LABEL centroid by cosine —
    the cluster-assignment stage of SemDeDup-style semantic curation
    (centroids here are the labeled group means, so the query doubles
    as a clustering-purity audit: ``correct`` marks vectors whose
    nearest centroid is their own label's).

    Determinism: centroid components are exact integer-micro sums
    divided once (``Σround(x·1e6) / (n·1e6)`` — associative int64
    arithmetic, then a single IEEE division both engines perform
    identically); scoring uses the shared order-stable fold cosine.

    Scale: the centroid relation is n_labels x 64 — built by one
    map-side-combinable (label, pos) aggregation over posexplode, then
    broadcast; assignment is a broadcast nested-loop over n_labels
    rows per vector (bounded dimension table, the sim_cosine_topk
    pattern), argmax via WindowGroupLimit. The corpus is never
    shuffled.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    arr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vd = emb.select("vec_id", F.col("label").alias("true_label"), arr.alias("arr"))
    micro = F.transform(
        F.col("arr"), lambda x: F.round(x * 1e6).cast("long")
    )
    comp = (
        vd.select("true_label", F.posexplode(micro).alias("pos", "mv"))
        .groupBy(F.col("true_label").alias("cl"), "pos")
        .agg(F.sum("mv").alias("s"), F.count(F.lit(1)).alias("cnt"))
    )
    cent = comp.groupBy("cl").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        (F.col("s") / (F.col("cnt") * 1000000.0)).alias("v"),
                    )
                )
            ),
            lambda st: st["v"],
        ).alias("cvec")
    )
    scored = vd.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "true_label",
        "cl",
        F.round(
            _dot(F.col("arr"), F.col("cvec"))
            / (
                F.sqrt(_dot(F.col("arr"), F.col("arr")))
                * F.sqrt(_dot(F.col("cvec"), F.col("cvec")))
            ),
            6,
        ).alias("cos6"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos6"), F.asc("cl"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "true_label",
            F.col("cl").alias("assigned_label"),
            "cos6",
            (F.col("cl") == F.col("true_label")).alias("correct"),
        )
    )


SIM_CENTROID_ASSIGN_SQL = f"""
WITH vd AS (
    SELECT vec_id, label AS true_label,
           list_transform(embedding, x -> x::DOUBLE) AS arr
    FROM embeddings
), comp AS (
    SELECT true_label AS cl, t.i AS pos,
           CAST(sum(CAST(round(arr[t.i] * 1e6, 0) AS BIGINT)) AS BIGINT) AS s,
           count(*) AS cnt
    FROM vd, unnest(range(1, 65)) AS t(i)
    GROUP BY 1, 2
), cent AS (
    SELECT cl, list(s / (cnt * 1000000.0) ORDER BY pos) AS cvec
    FROM comp GROUP BY 1
), scored AS (
    SELECT v.vec_id, v.true_label, c.cl,
           round({_DOT_SQL.format(a='v.arr', b='c.cvec')}
                 / (sqrt({_DOT_SQL.format(a='v.arr', b='v.arr')})
                    * sqrt({_DOT_SQL.format(a='c.cvec', b='c.cvec')})),
                 6) AS cos6
    FROM vd v CROSS JOIN cent c
), ranked AS (
    SELECT vec_id, true_label, cl, cos6,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos6 DESC, cl) AS rn
    FROM scored
)
SELECT vec_id, true_label, cl AS assigned_label, cos6,
       cl = true_label AS correct
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Maximal marginal relevance — diversity-aware re-rank of a retrieved pool
# --------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_POOL = 200
MMR_K = 5

def sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    greedily pick MMR_K results that balance relevance to the query
    (vec 0) against redundancy with what's already picked —
    score = λ·rel − (1−λ)·max_sim_to_selected. The dedupe-at-rank
    step of a retrieval/training-mix pipeline.

    Scale shape: MMR is quadratic in its POOL, so the pool is the
    top-MMR_POOL by relevance (one WindowGroupLimit-style pass over
    the corpus — the ANN/rerank regime at 10^9 vectors), persisted
    once. The K-step greedy itself runs as ONE single-task Arrow
    kernel over the ≤MMR_POOL-row pool (r14, guide §2.6/§4.2: the old
    K lazily-unrolled argmax stages cost 2 broadcasts + a persist +
    a stage barrier PER PICK — 1.45 s of plan construction and ~16
    sequential jobs at sf0.1 — for ≤200 rows of data). The kernel
    emits only the picked ids (integers); ``rel`` and ``score`` are
    re-derived declaratively over the K picked rows, so every
    PUBLISHED float is still computed by the exact Spark expressions
    the oracle mirrors (same discipline as the candidate-only GEMM
    kernels above). Bit-parity of the kernel's internal argmax with
    the old plan is pinned by tests/test_similarity.py.

    The greedy stages persist the pool and the K picks; rebuilding them
    per call would leak a fresh persisted pair every invocation, so the
    (result, pool, picks) triple is memoized under the campaign tag
    ``mmr`` and releasing it unpersists both (VERDICT r4: without a
    release, bench re-runs time the cache — not the plan — and the
    persisted pool is never freed).
    """
    return campaign(spark, "mmr", sf_dir, lambda: _mmr_plan(spark, sf_dir))[0]


def _mmr_plan(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = _with_norm(emb.filter(F.col("vec_id") == 0), "q_id", "qv")
    c = _with_norm(emb.filter(F.col("vec_id") != 0), "vec_id", "cv")
    rel = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "rel",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("q_id_norm") * F.col("vec_id_norm")),
                6,
            ),
        )
        .select("vec_id", "rel", "cv", F.col("vec_id_norm").alias("n"))
    )
    pool = rel.orderBy(F.col("rel").desc(), "vec_id").limit(MMR_POOL).persist()

    # TakeOrderedAndProject already yields one partition; coalesce(1)
    # pins the whole-pool-in-one-task contract the kernel requires.
    # The picks relation (K integer rows) is PERSISTED because two
    # consumers reference it — the sel spine and, through `prev`, the
    # penalty join's broadcast side — and an unpersisted MapInPandas
    # subtree would run the greedy kernel once per consumer (two
    # Python-worker round-trips for one answer; the r14 kernel-dup
    # sweep flagged exactly this).
    picks = pool.coalesce(1).mapInPandas(
        _mmr_greedy_kernel, schema="rank bigint, vec_id bigint"
    ).persist()
    sel = picks.join(F.broadcast(pool), "vec_id")
    prev = sel.select(
        F.col("rank").alias("prev_rank"),
        F.col("cv").alias("sv"),
        F.col("n").alias("sn"),
    )
    pens = (
        sel.join(F.broadcast(prev), F.col("prev_rank") < F.col("rank"), "left")
        .groupBy("rank", "vec_id", "rel")
        .agg(
            F.max(
                F.round(
                    _dot(F.col("cv"), F.col("sv"))
                    / (F.col("n") * F.col("sn")),
                    6,
                )
            ).alias("pen")
        )
    )
    lam = MMR_LAMBDA
    out = pens.select(
        "rank",
        "vec_id",
        "rel",
        F.when(F.col("pen").isNull(), F.col("rel"))
        .otherwise(
            F.round(
                F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("pen"), 6
            )
        )
        .alias("score"),
    )
    return out, pool, picks


def _round6_like_spark(x: float) -> float:
    """Replicate Spark's Round(double, 6): HALF_UP over the SHORTEST
    decimal representation of the double (Spark rounds
    BigDecimal.valueOf(x) == Double.toString(x), which is the shortest
    round-trip string — exactly what Python's repr() produces), then
    back to double. Used only inside the MMR argmax kernel; published
    values are recomputed by Spark's own Round."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return x
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _mmr_greedy_kernel(batches):
    """Single-task greedy MMR over the (already bounded) pool: yields
    (rank, vec_id) for the MMR_K picks. Float discipline mirrors the
    Spark expressions bit-for-bit: dot products accumulate as the same
    strictly-sequential left fold (one fused multiply-add per dimension
    IN ORDER — numpy elementwise ops over a column at a time), cosine =
    dot / (n * sn) with the denominator multiplied first, round-6 via
    :func:`_round6_like_spark`, score = lam*rel - (1-lam)*pen with
    (1-lam) evaluated in Python exactly as the old plan's F.lit(1-lam),
    argmax ordered by (score DESC, vec_id ASC) with exact float ties."""
    parts = list(batches)
    rows = pd.concat(parts, ignore_index=True) if parts else None
    if rows is None or len(rows) == 0:
        yield pd.DataFrame({"rank": [], "vec_id": []}).astype("int64")
        return
    ids = rows["vec_id"].to_numpy()
    rel = rows["rel"].to_numpy(dtype=np.float64)
    V = np.stack([np.asarray(v, dtype=np.float64) for v in rows["cv"]])
    nrm = rows["n"].to_numpy(dtype=np.float64)
    n_rows = len(ids)
    lam = MMR_LAMBDA
    oneml = 1 - MMR_LAMBDA
    r6 = np.vectorize(_round6_like_spark, otypes=[np.float64])

    def argbest(score: np.ndarray, mask: np.ndarray) -> int:
        best = -1
        for i in range(n_rows):
            if not mask[i]:
                continue
            if best < 0 or score[i] > score[best] or (
                score[i] == score[best] and ids[i] < ids[best]
            ):
                best = i
        return best

    avail = np.ones(n_rows, dtype=bool)
    pen = np.full(n_rows, -np.inf)
    picked: list[int] = []
    for _ in range(min(MMR_K, n_rows)):
        if not picked:
            score = rel
        else:
            s = picked[-1]
            acc = np.zeros(n_rows)
            for d in range(V.shape[1]):
                acc = acc + V[:, d] * V[s, d]
            pen = np.maximum(pen, r6(acc / (nrm * nrm[s])))
            score = r6(lam * rel - oneml * pen)
        i = argbest(score, avail)
        picked.append(i)
        avail[i] = False
    yield pd.DataFrame(
        {
            "rank": np.arange(1, len(picked) + 1, dtype=np.int64),
            "vec_id": ids[picked].astype(np.int64),
        }
    )


def _mmr_sql() -> str:
    lam = MMR_LAMBDA
    dot_ps = _DOT_SQL.format(a="p.cv", b="s.cv")
    ctes = [
        f"""v AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS cv,
           {_NORM_SQL} AS n
    FROM embeddings
), qv AS (
    SELECT cv AS qe, n AS qn FROM v WHERE vec_id = 0
), rel AS (
    SELECT vec_id, round({_DOT_SQL.format(a='cv', b='qe')} / (qn * n), 6)
               AS rel,
           cv, n
    FROM v, qv WHERE vec_id <> 0
), pool AS (
    SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
), p1 AS (
    SELECT vec_id, rel, cv, n, rel AS score FROM pool
    ORDER BY rel DESC, vec_id LIMIT 1
)"""
    ]
    # penalty via CROSS JOIN + GROUP BY, not a correlated subquery:
    # DuckDB lambdas (inside the unrolled dot) cannot capture
    # correlated outer columns
    for r in range(2, MMR_K + 1):
        ctes.append(
            f"""sel{r} AS (
    {' UNION ALL '.join(f'SELECT * FROM p{i}' for i in range(1, r))}
), c{r} AS (
    SELECT p.vec_id,
           max(round({dot_ps} / (p.n * s.n), 6)) AS pen
    FROM pool p CROSS JOIN sel{r} s
    WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{r})
    GROUP BY p.vec_id
), sc{r} AS (
    SELECT pool.vec_id, pool.rel, pool.cv, pool.n,
           round({lam} * pool.rel - {round(1 - lam, 10)} * c{r}.pen, 6)
               AS score
    FROM pool JOIN c{r} USING (vec_id)
), p{r} AS (
    SELECT vec_id, rel, cv, n, score FROM sc{r}
    ORDER BY score DESC, vec_id LIMIT 1
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {r} AS rank, vec_id, rel, score FROM p{r}"
        for r in range(1, MMR_K + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


SIM_MMR_SQL = _mmr_sql()


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and cosine rankings
# (Cormack, Clarke & Buettcher, SIGIR'09 — the fusion every production
# RAG stack runs over its lexical + vector retrievers)
# --------------------------------------------------------------------------

RRF_K = 60       # the SIGIR'09 constant
RRF_POOL = 50    # per-retriever candidate list depth
RRF_TOPK = 10


def _rrf_contrib(rank: Column) -> Column:
    """round(1e6/(K+rank)) as exact integer micros; absent rank -> 0.
    Integer micros make the fused sum order-free for the hash gate."""
    return (
        F.when(
            rank.isNotNull(),
            F.round(F.lit(1000000.0) / (F.lit(RRF_K) + rank), 0).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
    )


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the BM25 lexical ranking (textops.bm25_ranked)
    with the exact-cosine vector ranking of the SAME query set
    (``doc_id``/``vec_id`` are aligned ids in the fixtures — one corpus
    with both a text and an embedding column) via reciprocal-rank
    fusion: score(d) = Σ_retrievers 1/(60 + rank_r(d)), over each
    retriever's top-``RRF_POOL`` list.

    Scale shape: both retriever lists are top-N per query — bounded
    ×|queries| relations — so the full-outer fusion join and the final
    re-rank window touch only candidate lists, never a corpus-sized
    relation. The corpus is scanned by each retriever exactly as in its
    standalone operator (BM25: broadcast-pruned token explode; cosine:
    broadcast query set streamed over the corpus, WindowGroupLimit).
    """
    from .textops import _bm25_query_filter, bm25_ranked

    text = bm25_ranked(spark, sf_dir, RRF_POOL).select(
        "query_id", "doc_id", F.col("rank").alias("rank_text")
    )
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = _with_norm(
        emb.filter(_bm25_query_filter("vec_id")), "query_id", "qv"
    )
    c = _with_norm(emb, "doc_id", "cv")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("query_id_norm") * F.col("doc_id_norm")),
                6,
            ),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id")
    )
    vec = (
        scored.withColumn("rank_vec", F.row_number().over(wv))
        .filter(F.col("rank_vec") <= RRF_POOL)
        .select("query_id", "doc_id", "rank_vec")
    )
    fused = text.join(vec, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf_micro",
        _rrf_contrib(F.col("rank_text")) + _rrf_contrib(F.col("rank_vec")),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= RRF_TOPK)
        .select("query_id", "doc_id", "rank", "rrf_micro", "rank_text", "rank_vec")
    )


def _hybrid_rrf_sql() -> str:
    from .textops import (
        _BM25_RANKED_SQL_TMPL,
        BM25_MAX_QUERIES,
        BM25_QUERY_STRIDE,
    )

    bm25 = _BM25_RANKED_SQL_TMPL.format(
        cols="query_id, doc_id, rank AS rank_text", topk=RRF_POOL
    )
    contrib = (
        "CASE WHEN {r} IS NOT NULL THEN "
        f"CAST(round(1000000.0 / ({RRF_K} + {{r}}), 0) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    return f"""
WITH bm25 AS ({bm25}),
v AS (
    SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings
), vscored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                 / (q.norm * c.norm), 6) AS cosine
    FROM v q JOIN v c
      ON q.vec_id % {BM25_QUERY_STRIDE} = 0
     AND q.vec_id < {BM25_QUERY_STRIDE * BM25_MAX_QUERIES}
), vranked AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, doc_id) AS rank_vec
    FROM vscored
), vec AS (
    SELECT query_id, doc_id, rank_vec FROM vranked
    WHERE rank_vec <= {RRF_POOL}
), fused AS (
    SELECT query_id, doc_id, rank_text, rank_vec,
           {contrib.format(r='rank_text')}
           + {contrib.format(r='rank_vec')} AS rrf_micro
    FROM bm25 FULL JOIN vec USING (query_id, doc_id)
), ranked AS (
    SELECT query_id, doc_id, rrf_micro, rank_text, rank_vec,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf_micro DESC, doc_id) AS rank
    FROM fused
)
SELECT query_id, doc_id, rank, rrf_micro, rank_text, rank_vec
FROM ranked WHERE rank <= {RRF_TOPK}"""


SIM_HYBRID_RRF_SQL = _hybrid_rrf_sql()


QUERIES = {
    "sim_hybrid_rrf": sim_hybrid_rrf,
    "sim_mmr": sim_mmr,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_range_search": sim_range_search,
    "sim_knn_exact": sim_knn_exact,
    "sim_threshold_pairs": sim_threshold_pairs,
    "sim_knn_graph": sim_knn_graph,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_label_centroid": sim_label_centroid,
    "sim_label_trimmed_norm": sim_label_trimmed_norm,
    "emb_quantize_int8": emb_quantize_int8,
    "sim_centroid_assign": sim_centroid_assign,
}

ORACLES = {
    "sim_hybrid_rrf": SIM_HYBRID_RRF_SQL,
    "sim_mmr": SIM_MMR_SQL,
    "sim_cosine_topk": SIM_COSINE_TOPK_SQL,
    "sim_range_search": SIM_RANGE_SEARCH_SQL,
    "sim_knn_exact": SIM_KNN_EXACT_SQL,
    "sim_threshold_pairs": SIM_THRESHOLD_PAIRS_SQL,
    "sim_ann_lsh": SIM_ANN_LSH_SQL,
    "sim_knn_graph": SIM_KNN_GRAPH_SQL,
    "sim_label_centroid": SIM_LABEL_CENTROID_SQL,
    "sim_label_trimmed_norm": SIM_LABEL_TRIMMED_NORM_SQL,
    "emb_quantize_int8": EMB_QUANTIZE_INT8_SQL,
    "sim_centroid_assign": SIM_CENTROID_ASSIGN_SQL,
    # sim_ann_lsh / sim_knn_graph carry FULL oracles despite being
    # approximate: the approximate STRUCTURE (seeded hyperplane buckets
    # / blocks, probe expansion, exact re-rank) is deterministic and
    # reproduced in SQL above. Their recall floors vs the exact twins
    # (sim_cosine_topk, sim_knn_exact) stay asserted in
    # tests/test_similarity.py — the oracle proves the structure is
    # computed as specified; the recall tests prove the specification
    # finds the true neighbors.
}
