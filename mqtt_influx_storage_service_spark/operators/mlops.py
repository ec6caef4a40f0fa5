"""MLlib-backed variants of the near-dup / ANN operators (SURVEY.md §2
Tier C: "MinHash-LSH (pyspark.ml.feature.MinHashLSH)",
"LSH (BucketedRandomProjectionLSH) at scale").

The hand-rolled versions in dedup.py / similarity.py expose the
mechanics (band hashing, hyperplane buckets) and are the ones tuned
for this corpus; these MLlib twins demonstrate the standard-library
path a production deployment would start from — fit() learns nothing
data-dependent for these hash families, so the "model" is just a
seeded hash parameterization and the transform stays fully
distributed. Approximate by construction → rows-only driver check,
recall pinned against the exact baselines in tests/test_mlops.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.ml.feature import BucketedRandomProjectionLSH, HashingTF, MinHashLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..cache import campaign
from ..sources import load_table
from ..sources.tables import table_row_count
from .dedup import JACCARD_THRESHOLD, _doc_shingles, _verify_joined
from .similarity import IVF_TARGET_LIST, N_QUERIES, TOPK

SEED_TF = 1 << 18      # hashing-TF feature space for shingle sets
ML_HASH_TABLES = 8


def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH near-dup: shingles → binary HashingTF vectors →
    approxSimilarityJoin at Jaccard distance <= 0.5.

    distCol is MinHash's ESTIMATE of Jaccard distance over the hashed
    feature space, so we report the exact shingle Jaccard for verified
    pairs (same verify join as dedup_minhash_lsh) — LSH proposes,
    exact disposes.
    """
    ds = _doc_shingles(spark, sf_dir)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=SEED_TF, binary=True
    )
    # SLIM the self-join inputs to (doc_id, features) — guide §2.3
    # "project before the exchange": approxSimilarityJoin carries every
    # input column through its 8-way hash-entry explode + join, and the
    # shingle string/hash arrays tripled the exploded row (measured
    # 2x54.8 MB shuffled per run at sf0.1 for 5 000 docs; corpus-
    # proportional at scale). features must stay (keyDistance computes
    # distCol from it); shingles re-attach below for CANDIDATE pairs
    # only, through the family's strategy-pinned verify join.
    feats = tf.transform(ds).select("doc_id", "features")
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=ML_HASH_TABLES,
        seed=42,
    )
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1.0 - JACCARD_THRESHOLD, distCol="est_dist"
    )
    candidates = (
        joined.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    # exact verification of candidates only — identical expressions to
    # the un-slimmed form, now over per-pair re-attached arrays (the
    # dedup_minhash_lsh idiom; "ml" is this builder's own tag per the
    # _persisted_candidates tag contract). Verify intersects the
    # precomputed 60-bit shingle hashes: output verified bit-identical
    # to the string-array intersect at sf0.01/sf0.1 (md5-of-rows).
    sa = ds.select(F.col("doc_id").alias("doc_a"),
                   F.col("shingles_h").alias("sh_a"),
                   F.col("n_shingles").alias("n_a"))
    sb = ds.select(F.col("doc_id").alias("doc_b"),
                   F.col("shingles_h").alias("sh_b"),
                   F.col("n_shingles").alias("n_b"))
    pairs = (
        _verify_joined(candidates, sa, sb, spark=spark, sf_dir=sf_dir, tag="ml")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return pairs.select("doc_a", "doc_b", "jaccard")


def _unit_features(df: DataFrame) -> DataFrame:
    """(vec_id, features): L2-normalize via the shared Arrow kernel
    (:func:`_unitize_np` — bit-identical to the interpreted
    ``aggregate(transform(...))`` left fold this replaced; that fold
    never enters codegen and cost ~3 ms/row interpreted, 6.3 s of the
    corpus stage's executor CPU at sf0.1) then pack to the MLlib
    VectorUDT. Marked nondeterministic for the same single-evaluation
    fence as :func:`_unit_assign_udf`."""

    @pandas_udf("array<double>")
    def _unit(embs: pd.Series) -> pd.Series:
        return pd.Series(list(_unitize_np(embs)))

    return df.select(
        "vec_id",
        array_to_vector(_unit.asNondeterministic()(F.col("embedding"))).alias(
            "features"
        ),
    )


def _brp_query_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The N_QUERIES unit-normalized query vectors from a
    NON-rebalanced scan: the vec_id predicate pushes into the parquet
    reader, row-group pruning bounds the read to the query set's
    storage footprint, and no repartition exchange follows — the whole
    side is one short narrow job feeding the broadcast (see the call
    site note in :func:`sim_ann_brp`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _unit_features(emb.filter(F.col("vec_id") < N_QUERIES))


def sim_ann_brp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH ANN top-k: L2-normalize embeddings
    (euclidean distance on the unit sphere orders identically to
    cosine), bucket by random projections, approxSimilarityJoin within
    a distance radius, exact re-rank to top-5 per query.

    The radius bounds candidate generation (distance 1.2 on the unit
    sphere = cosine ~0.28); recall vs the brute-force baseline is
    pinned in tests/test_mlops.py.

    The query side carries a BROADCAST hint into the LSH join (r11):
    approxSimilarityJoin otherwise shuffles BOTH sides by
    (hash-table, bucket) key, and the bounded query set occupies a
    handful of buckets — the 800k skew census caught the resulting
    hot-key straggler; the measured before/after is the
    STRESS_r12 `brp_census_800k` row (wall 48.8 → 41.2 s, audited
    stages 6 → 3; a residual SCAN-side hot task survives the hint and
    is recorded there as an open attribution — the hint removes the
    exchange, not every straggler), and the plan shape
    (BroadcastHashJoin on (entry, hashValue), no bucket-key exchange)
    is pinned in tests/test_mlops.py. The hint resolves through
    MLlib's internal explode+join (EliminateResolvedHint lifts it
    from anywhere in the join's child subtree), so every corpus
    partition joins its own bucket entries against the ~600 broadcast
    query entries locally — no bucket-key exchange, no hot partition,
    identical rows.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    unit = _unit_features(emb)
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", numHashTables=6,
        bucketLength=0.5, seed=42,
    )
    # Fit on the BOUNDED query side: BRP's fit is data-independent —
    # the model is (seed, inputDim) -> random unit planes, and fit()
    # touches the data only to read the input dimension from one row.
    # Fitting on the corpus frame ran a full SERIAL corpus
    # normalization job just for that head() (0.85 s single-task stage
    # at sf0.1, corpus-proportional at scale); the query side answers
    # the same question from the pushdown-pruned bounded scan.
    q = _brp_query_side(spark, sf_dir)
    model = brp.fit(q)
    # The query side is rebuilt from a NON-rebalanced scan (r13): under
    # the rebalanced corpus frame, vec_id < N_QUERIES pushes into the
    # scan and row-group pruning leaves ONE task holding the query
    # set's whole storage footprint (32768 records = 2 row groups at
    # 800k) feeding a RoundRobin exchange — the recurring census hot
    # task (STRESS_r11/r12/r13). The work is bounded (query-set
    # footprint, not corpus-proportional) and the 16-18 s duration was
    # this task co-scheduled against the corpus-side LSH stages inside
    # the same query; skipping the rebalance drops the exchange and
    # runs the pruned scan→filter→transform straight into the
    # broadcast (measured 0.3 s solo). Same 100 rows either way.
    joined = model.approxSimilarityJoin(
        F.broadcast(q), unit, 1.2, distCol="dist"
    )
    scored = joined.select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        # cosine = 1 - d^2/2 for unit vectors
        F.round(1 - F.col("dist") * F.col("dist") / 2, 6).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


IVF_K = 16        # inverted-file partitions (k-means centroids), fixture floor
IVF_NPROBE = 4    # clusters probed per query
IVF_SAMPLE = 2048  # training-sample cap (~128/list, flat in corpus size)


def _ivf_k(n_vecs: int) -> int:
    """Coarse-list count for the IVF family: the fixture-scale floor
    IVF_K up to IVF_K*IVF_TARGET_LIST vectors, then n/IVF_TARGET_LIST
    so LIST SIZE — and with it the rows a probe scans per query — stays
    bounded as the corpus grows (faiss sizes its coarse quantizer the
    same way). A fixed K is the quadratic trap the 100x stress exposed:
    at 200k vectors, 16 lists meant ~12.5k-row lists and 5M scored
    candidates for the 100-query set (sim_ann_ivf 10.5 s -> 162 s,
    ~16x for 10x the data). Capped at IVF_SAMPLE//8 so the bounded
    training sample keeps >= 8 points per centroid; past that cap
    (n > ~524k = (IVF_SAMPLE//8)·IVF_TARGET_LIST, where list sizes
    start growing again) IVF_SAMPLE itself is the knob to raise — same
    structure as similarity._pair_centroids."""
    return max(IVF_K, min(-(-n_vecs // IVF_TARGET_LIST), IVF_SAMPLE // 8))


def _ivf_nprobe(n_vecs: int) -> int:
    """Probe count scales WITH the list count (faiss practice —
    ADVICE r9): a fixed nprobe over a growing :func:`_ivf_k` silently
    shrinks the probed fraction (4/16 = 25% at fixture scale →
    4/98 ≈ 4% at 200k vectors → 1.6% at the 256-list cap), which would
    turn r8's 'scale-flat' wall time into an unmeasured recall slide.
    nprobe = max(IVF_NPROBE, ceil(k/8)) pins the probed fraction at
    ≥ ~12.5% of lists at any scale; the recall-vs-brute-force tradeoff
    is MEASURED at 10x/100x corpus scale by tools/stress_ivf_recall.py
    (STRESS_r09 'ivf_recall')."""
    return max(IVF_NPROBE, -(-_ivf_k(n_vecs) // 8))


def _lloyd(sample: "np.ndarray", k: int = IVF_K, seed: int = 42,
           iters: int = 10) -> "np.ndarray":
    """Driver-side Lloyd k-means over the bounded training sample —
    deterministic (fixed seed, fixed iteration count), pure numpy.
    This is the faiss coarse-quantizer training regime: the sample is
    capped (IVF_SAMPLE x 64 doubles, ~1 MB), so training cost is FLAT
    as the corpus grows. Replaces MLlib KMeans.fit, which spent 3.8 s
    of per-iteration Spark-job overhead on this same 2048-row sample
    at sf0.1 (the math itself is milliseconds)."""
    rng = np.random.RandomState(seed)
    C = sample[rng.choice(len(sample), k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(k):
            pts = sample[a == j]
            if len(pts):
                C[j] = pts.mean(axis=0)
    return C


def _ivf_train(
    unit: DataFrame, n_vecs: int, cache_key: str | None = None
) -> tuple["np.ndarray", "np.ndarray"]:
    """(centroids, training sample) from a deterministic strided
    subsample. The capped collect (≤ IVF_SAMPLE rows) is the ONE
    sanctioned eager action in the ANN tier — faiss-style index
    training is inherently a driver/host-side fit over a bounded
    sample; everything downstream (assign, probe, ADC, re-rank) is
    lazy and distributed. The corpus cardinality that sizes the stride
    comes from parquet footer metadata (driver-side, no Spark job) —
    df.count() here would fire a full-corpus job at plan-construction
    time (VERDICT r2 #4; pinned by test_ann_construction_fires_no_count).

    The fit is deterministic, so with a ``cache_key`` (the sf-dir proxy)
    it is memoized under the campaign tag ``ivf_train``: sim_ann_ivf /
    sim_ann_ivf_pq otherwise pay the sample-collect job (~3.5 s at the
    stress corpus) PER CALL. The entry holds driver-side numpy arrays,
    nothing persisted on executors.
    """

    def fit() -> tuple["np.ndarray", "np.ndarray"]:
        # CEIL stride: floor would admit up to ~2x IVF_SAMPLE strided
        # rows and the limit() below would then keep a partition-order-
        # dependent (nondeterministic) subset — ceil keeps the strided
        # set itself within the cap, so limit() is a pure guard that
        # never cuts.
        stride = max(1, -(-n_vecs // IVF_SAMPLE))
        rows = (
            unit.filter(F.col("vec_id") % stride == 0)
            .select("unit")
            .limit(IVF_SAMPLE)
            .collect()
        )
        sample = np.array([r.unit for r in rows])
        return _lloyd(sample, k=_ivf_k(n_vecs)), sample

    if cache_key is None:
        return fit()
    return campaign(unit.sparkSession, "ivf_train", f"{cache_key}:{n_vecs}", fit)


def _unitize_np(embs: pd.Series) -> "np.ndarray":
    """The one L2-normalization kernel body every ANN path shares:
    accumulates the norm's squares in the SAME left-fold order as the
    Spark ``aggregate(zip_with(...))`` fold (vectorized across rows,
    sequential across dimensions), then the identical IEEE sqrt and
    per-element divide — unit values are bit-identical to the fold
    form's, so every downstream rounded cosine is unchanged. No zero
    guard, exactly like the fold form: x / 0.0 follows IEEE."""
    X = np.stack([np.asarray(v, dtype=np.float64) for v in embs.to_numpy()])
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    return X / np.sqrt(acc)[:, None]


def _unit_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalized embeddings via ONE Arrow kernel (see
    :func:`_unitize_np` for the bit-parity contract vs the interpreted
    higher-order fold this replaced — that fold cost 80 of
    sim_ann_ivf's 162 s at the 100x corpus just materializing the unit
    column). Since r14 the bulk paths use kernels MERGED with their
    consumers (:func:`_unit_assign_udf`); this standalone form remains
    the training-sample source (collected once per campaign) and the
    recall-test surface."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)

    @pandas_udf("array<double>")
    def _unitize(embs: pd.Series) -> pd.Series:
        return pd.Series(list(_unitize_np(embs)))

    return emb.select("vec_id", _unitize(F.col("embedding")).alias("unit"))


def _unit_assign_udf(centers: "np.ndarray", books: "np.ndarray | None" = None):
    """Merged unitize+assign(+PQ-encode) kernel (r14, guide §4): the
    r13 plan chained separate ArrowEvalPython nodes for normalization,
    assignment and encoding — every node is its own Python-worker
    round-trip per task, and the worker handshake dominated the stage
    (SQL-tab metrics at sf0.1: 'time to initialize Python workers'
    2.1-2.7 s/task on the first wave vs ~0.5 s of actual kernel run
    time for the whole query). One kernel now emits
    struct<unit, cluster[, codes]> in a single pass; every numpy step
    is the exact body the separate kernels ran, so assignments, codes
    and downstream cosines are bit-identical."""
    C = centers
    c2 = (C ** 2).sum(axis=1)
    if books is None:
        @pandas_udf("struct<unit:array<double>, cluster:bigint>")
        def _ua(embs: pd.Series) -> pd.DataFrame:
            U = _unitize_np(embs)
            d2 = (U ** 2).sum(axis=1, keepdims=True) - 2 * (U @ C.T) + c2[None, :]
            return pd.DataFrame(
                {"unit": list(U), "cluster": d2.argmin(axis=1).astype(np.int64)}
            )

        # The kernel IS deterministic; the marking is an optimizer
        # fence. The inner join on the kernel-produced cluster key
        # infers isnotnull(cluster), and predicate pushdown drags that
        # filter (plus a full second ArrowEvalPython to evaluate it)
        # BELOW the rebalance exchange — the corpus kernel ran 2x
        # (measured: +0.4 s at sf0.1, 2x the corpus pass at scale).
        # Nondeterministic expressions are never pushed past or
        # duplicated, so the kernel runs exactly once.
        return _ua.asNondeterministic()

    sub = books.shape[2]
    pq_m = books.shape[0]

    @pandas_udf("struct<cluster:bigint, codes:array<int>>")
    def _uac(embs: pd.Series) -> pd.DataFrame:
        U = _unitize_np(embs)
        d2 = (U ** 2).sum(axis=1, keepdims=True) - 2 * (U @ C.T) + c2[None, :]
        cluster = d2.argmin(axis=1).astype(np.int64)
        Xs = U.reshape(len(U), pq_m, sub)
        e2 = (
            (Xs ** 2).sum(axis=2, keepdims=True)
            - 2 * np.einsum("nms,mks->nmk", Xs, books)
            + (books ** 2).sum(axis=2)[None, :, :]
        )
        codes = e2.argmin(axis=2).astype(np.int32)
        return pd.DataFrame({"cluster": cluster, "codes": list(codes)})

    # Same single-evaluation fence as the no-books branch above.
    return _uac.asNondeterministic()


def _probe_side(
    spark: SparkSession, sf_dir: str, centers: "np.ndarray", nprobe: int
) -> DataFrame:
    """(query_id, q_unit, cluster) probe rows from the NON-rebalanced
    scan (the r13 _brp_query_side move: vec_id < N_QUERIES pushes into
    the parquet reader, no repartition exchange) with unitize+probe
    merged into ONE kernel call over the bounded query set — the r13
    plan ran two chained Python nodes here. Ranking math is verbatim
    :func:`_probe_clusters`'s (stable argsort, same tie-break)."""
    C = centers
    half = 0.5 * (C ** 2).sum(axis=1)
    p = min(nprobe, len(C))

    @pandas_udf("struct<q_unit:array<double>, clusters:array<bigint>>")
    def _qp(embs: pd.Series) -> pd.DataFrame:
        U = _unitize_np(embs)
        S = U @ C.T - half[None, :]
        idx = np.argsort(-S, axis=1, kind="stable")[:, :p]
        return pd.DataFrame(
            {"q_unit": list(U), "clusters": list(idx.astype(np.int64))}
        )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            _qp(F.col("embedding")).alias("s"),
        )
        .select(
            "query_id",
            F.col("s.q_unit").alias("q_unit"),
            F.explode(F.col("s.clusters")).alias("cluster"),
        )
    )


def _fold_dot_udf():
    """Row-batched dot product that accumulates DIMENSIONS sequentially
    (a left fold vectorized ACROSS rows): each step is the same IEEE
    double add the Spark ``aggregate(zip_with(...))`` fold performs, in
    the same order, so results are bit-identical to the fold-scored
    baselines — unlike einsum/np.dot, whose pairwise/SIMD summation can
    differ in the last ulp and flip a round(x, 6) midpoint. A factory
    (not a module-level UDF) because pandas_udf parses its return type
    eagerly and needs an active session.

    Scope note: similarity.py records (r4) that pair-LEVEL Arrow dot
    kernels lose 5-35x at corpus-pair scale — both 64-double arrays
    ship through Arrow per pair (26 GB at 25M pairs). That dead end
    does not apply here: sim_ann_ivf's candidate set is bounded at
    ~N_QUERIES x nprobe x IVF_TARGET_LIST rows (~1M at ANY corpus size
    now that K grows with n), so the Arrow ship is bounded too; the
    corpus-scale work in this plan is per-ROW (_unit_vectors, assign),
    which is exactly where Arrow kernels win."""

    @pandas_udf("double")
    def _dot(q_units: pd.Series, units: pd.Series) -> pd.Series:
        Q = np.stack(
            [np.asarray(v, dtype=np.float64) for v in q_units.to_numpy()])
        X = np.stack(
            [np.asarray(v, dtype=np.float64) for v in units.to_numpy()])
        acc = np.zeros(len(Q))
        for j in range(Q.shape[1]):
            acc = acc + Q[:, j] * X[:, j]
        return pd.Series(acc)

    return _dot


def sim_ann_ivf(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """IVF-style ANN top-k: k-means centroids define an inverted file;
    each vector is assigned to its nearest centroid, queries probe the
    ``nprobe`` nearest lists and exact-rerank within them.

    The coarse fit is a driver-side numpy Lloyd over a bounded strided
    sample (``_ivf_train`` — the faiss regime; MLlib KMeans.fit spent
    3.8 s of Spark-job overhead on the same 2048-row sample); the bulk
    assignment is one Arrow-vectorized pass (``_assign_udf``). Probing
    is a broadcast equi-join on cluster id — no cross join ever
    materializes. At billions of vectors the assigned table is written
    bucketed by ``cluster`` so a probe reads only nprobe/k of the
    data; recall vs the brute-force baseline is pinned in
    tests/test_mlops.py (probing every list reproduces brute force
    exactly — the plumbing check).

    Candidate scoring is the Arrow kernel ``_fold_dot_udf``, NOT the
    Spark-side ``aggregate(zip_with(...))`` fold: the fold is an
    interpreted (never-codegen) higher-order expression, and scoring
    every (query x probed-list-member) row with it was the 100x
    stress's second quadratic trap (the kernel accumulates dimensions
    in the SAME left-fold order, so emitted cosines stay bit-identical
    to the brute-force baseline's fold — equality pinned in tests).
    """
    unit = _unit_vectors(spark, sf_dir)
    n_vecs = table_row_count(sf_dir, "embeddings")
    if nprobe is None:
        nprobe = _ivf_nprobe(n_vecs)  # scales with the list count
    centers_np, _ = _ivf_train(unit, n_vecs, cache_key=sf_dir)
    # r14: unitize+assign merged into one kernel over the raw scan
    # (was two chained Python nodes — see _unit_assign_udf), and the
    # probe side built from the pushdown-pruned scan with its own
    # merged kernel (see _probe_side). Values bit-identical.
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    assigned = emb.select(
        "vec_id", _unit_assign_udf(centers_np)(F.col("embedding")).alias("s")
    ).select(
        "vec_id", F.col("s.unit").alias("unit"), F.col("s.cluster").alias("cluster")
    )
    probes = _probe_side(spark, sf_dir, centers_np, nprobe)
    cand = F.broadcast(probes).join(assigned, "cluster").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_fold_dot_udf()(F.col("q_unit"), F.col("unit")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# IVF-PQ: product quantization + asymmetric distance + exact re-rank
# --------------------------------------------------------------------------

PQ_M = 8          # subspaces (64 dims -> 8 x 8-dim subvectors)
PQ_KS = 16        # centroids per subspace (4-bit codes)
PQ_SAMPLE = 2048  # training sample cap (flat in corpus size)
PQ_RERANK = 32    # ADC candidates re-ranked with exact vectors


def _pq_train(sample: "np.ndarray") -> "np.ndarray":
    """Per-subspace Lloyd k-means codebooks (PQ_M, PQ_KS, d/PQ_M) —
    deterministic (fixed seed, fixed iteration count), pure numpy on a
    driver-side sample. This is faiss's PQ training regime: a bounded
    sample, so training cost is FLAT as the corpus grows."""
    n, d = sample.shape
    sub = d // PQ_M
    rng = np.random.RandomState(42)
    books = np.empty((PQ_M, PQ_KS, sub))
    for m in range(PQ_M):
        X = sample[:, m * sub:(m + 1) * sub]
        C = X[rng.choice(n, PQ_KS, replace=False)].copy()
        for _ in range(10):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(PQ_KS):
                pts = X[a == j]
                if len(pts):
                    C[j] = pts.mean(axis=0)
        books[m] = C
    return books


def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-k: coarse k-means lists (as sim_ann_ivf) +
    product-quantized codes per vector (PQ_M 4-bit codes = 4 bytes for
    a 256-byte vector, the 64x memory compression that makes
    billion-vector indexes RAM-resident), asymmetric-distance scoring
    against per-query lookup tables, exact re-rank of the PQ_RERANK
    best.

    Spark shape: encode is one Arrow-vectorized pandas UDF over the
    corpus (einsum per batch, no per-row Python); probing is the same
    broadcast equi-join on cluster id as sim_ann_ivf (never a cross
    join); ADC scoring is a second vectorized UDF whose closure holds
    the (PQ_M x PQ_KS x sub) codebooks — per-batch LUT build via one
    einsum, gather via take_along_axis. At 10^9 vectors the scored
    relation carries 4-byte codes instead of 256-byte vectors — the
    whole point of PQ — and only PQ_RERANK rows per query rejoin the
    full vectors. Approx-by-construction: rows-only driver check;
    recall floor + all-lists-probed sanity pinned in tests/test_mlops.py.
    """
    unit = _unit_vectors(spark, sf_dir)
    # Footer-metadata cardinality, not df.count() — see _ivf_train.
    n_vecs = table_row_count(sf_dir, "embeddings")
    # Coarse centroids AND PQ codebooks train on the SAME bounded
    # sample (one capped collect serves both fits).
    centers_np, sample = _ivf_train(unit, n_vecs, cache_key=sf_dir)
    books = _pq_train(sample[:PQ_SAMPLE])
    sub = books.shape[2]

    @pandas_udf("double")
    def _adc(q_ids: pd.Series, q_units: pd.Series, codes: pd.Series) -> pd.Series:
        # LUT per UNIQUE query in the batch, not per row: a batch holds
        # ~10^4 candidate pairs over ~10^2 queries, and the LUT build
        # (M*KS*sub mults) is 16x the cost of the 4-gather ADC score —
        # per-row LUTs made ADC slower than brute dots (measured; this
        # dedupe is the restore of PQ's actual asymptotics)
        ids = q_ids.to_numpy()
        uniq, first, inv = np.unique(ids, return_index=True, return_inverse=True)
        Q = np.stack([np.asarray(q_units.iloc[int(i)]) for i in first])
        Q = Q.reshape(len(uniq), PQ_M, sub)
        lut = np.einsum("qms,mks->qmk", Q, books)     # (uniq, M, KS)
        C = np.stack([np.asarray(c) for c in codes.to_numpy()])  # (n, M)
        per_row = lut[inv]                            # view-ish gather
        score = np.take_along_axis(per_row, C[:, :, None], axis=2)[
            :, :, 0
        ].sum(axis=1)
        return pd.Series(score)

    # r14: unitize+assign+encode merged into ONE kernel over the raw
    # scan — the corpus never carries the unit column at all in this
    # plan (PQ's whole point: 4-byte codes, not 256-byte vectors); the
    # shortlist re-rank below re-derives unit vectors for only the
    # PQ_RERANK×|queries| matched rows.
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    assigned = emb.select(
        "vec_id",
        _unit_assign_udf(centers_np, books)(F.col("embedding")).alias("s"),
    ).select(
        "vec_id",
        F.col("s.cluster").alias("cluster"),
        F.col("s.codes").alias("codes"),
    )

    probes = _probe_side(spark, sf_dir, centers_np, _ivf_nprobe(n_vecs))
    cand = (
        F.broadcast(probes)
        .join(assigned, "cluster")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "q_unit",
            "vec_id",
            _adc(F.col("query_id"), F.col("q_unit"), F.col("codes")).alias(
                "adc"
            ),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id")
    )
    shortlist = (
        cand.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= PQ_RERANK)
        .select("query_id", "q_unit", "vec_id")
    )

    # Exact re-rank: unitize+fold-dot over ONLY the shortlist rows, as
    # one kernel (bit-identical to the old plan's unit-column join +
    # zip_with fold — same numpy body as _unitize_np + _fold_dot_udf).
    # The old plan re-evaluated the corpus-wide unitize kernel a third
    # time just to join
    # PQ_RERANK×|queries| unit vectors back in.
    @pandas_udf("double")
    def _unit_dot(q_units: pd.Series, embs: pd.Series) -> pd.Series:
        U = _unitize_np(embs)
        Q = np.stack(
            [np.asarray(v, dtype=np.float64) for v in q_units.to_numpy()]
        )
        acc = np.zeros(len(Q))
        for j in range(Q.shape[1]):
            acc = acc + Q[:, j] * U[:, j]
        return pd.Series(acc)

    emb_plain = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    rescored = emb_plain.join(F.broadcast(shortlist), "vec_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_unit_dot(F.col("q_unit"), F.col("embedding")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


QUERIES = {
    "dedup_minhash_ml": dedup_minhash_ml,
    "sim_ann_brp": sim_ann_brp,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_pq": sim_ann_ivf_pq,
}

# Both approximate-by-construction (hash-family dependent): rows-only
# driver check; recall vs the exact baselines in tests/test_mlops.py.
ORACLES: dict[str, str] = {}
