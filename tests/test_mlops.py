"""Recall tests for the MLlib LSH variants against their exact
baselines (operators/mlops.py)."""

from __future__ import annotations

import pytest

from mqtt_influx_storage_service_spark import cache
from mqtt_influx_storage_service_spark.operators import dedup, mlops, similarity


def test_minhash_ml_matches_exact_jaccard(spark, sf_dir):
    """MLlib MinHashLSH + exact verify must find (almost) every pair
    the exact shingle-Jaccard query finds — and never a false
    positive (the verify join guarantees precision=1)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in mlops.dedup_minhash_ml(spark, sf_dir).collect()
    }
    assert set(got) <= set(exact)
    for pair, j in got.items():
        assert j == pytest.approx(exact[pair], abs=1e-6)
    recall = len(got) / max(len(exact), 1)
    assert recall >= 0.8, f"recall {recall} over {len(exact)} true pairs"


def test_brp_ann_recall_vs_brute_force(spark, sf_dir):
    """BRP-LSH top-5 must recover most of the true cosine top-5."""
    truth = {}
    for r in similarity.sim_cosine_topk(spark, sf_dir).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in mlops.sim_ann_brp(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.5, f"recall {recall}"


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_ivf_full_probe_reproduces_brute_force(spark, sf_dir):
    """Probing every inverted list makes IVF exhaustive — the result
    must be the brute-force top-5 (modulo 1e-6 cosine-rounding ties),
    proving the assign→probe→rerank plumbing loses nothing."""
    from mqtt_influx_storage_service_spark.sources.tables import (
        table_row_count,
    )

    truth = _topk_sets(similarity.sim_cosine_topk(spark, sf_dir).collect())
    # nprobe = the ACTUAL list count for this fixture, not the IVF_K
    # floor: on any fixture above IVF_K*IVF_TARGET_LIST vectors a
    # literal IVF_K would silently stop probing all lists (ADVICE r9)
    k_lists = mlops._ivf_k(table_row_count(sf_dir, "embeddings"))
    got = _topk_sets(
        mlops.sim_ann_ivf(spark, sf_dir, nprobe=k_lists).collect()
    )
    assert set(got) == set(truth)
    hits = sum(len(truth[q] & got[q]) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.98, f"full-probe recall {hits / total}"


def test_ivf_default_probe_recall(spark, sf_dir):
    """nprobe=4 of 16 lists on this near-orthogonal corpus (clusters
    are weak by construction) must still beat the random-coverage
    floor and return exactly top-5 per query."""
    truth = _topk_sets(similarity.sim_cosine_topk(spark, sf_dir).collect())
    rows = mlops.sim_ann_ivf(spark, sf_dir).collect()
    got = _topk_sets(rows)
    per_query = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert all(n == similarity.TOPK for n in per_query.values())
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.2, f"recall {recall}"


def test_brp_cosines_match_brute_force_values(spark, sf_dir):
    """Where ML ANN and brute force agree on a neighbor, the cosine
    (derived from unit-sphere euclidean distance) must match."""
    truth = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.sim_cosine_topk(spark, sf_dir).collect()
    }
    checked = 0
    for r in mlops.sim_ann_brp(spark, sf_dir).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in truth:
            assert r["cosine"] == pytest.approx(truth[key], abs=1e-4)
            checked += 1
    assert checked > 0


def test_ivf_pq_recall_and_shape(spark, sf_dir):
    """IVF-PQ with ADC + exact re-rank: exactly TOPK rows per query,
    every returned cosine is the TRUE cosine (re-rank join uses real
    vectors, so reported scores are exact even when ranking is
    approximate), and recall clears the IVF probe floor — PQ's 64x
    compression must not cost recall on top of the coarse probe."""
    truth = _topk_sets(similarity.sim_cosine_topk(spark, sf_dir).collect())
    exact_cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.sim_cosine_topk(spark, sf_dir).collect()
    }
    rows = mlops.sim_ann_ivf_pq(spark, sf_dir).collect()
    got = _topk_sets(rows)
    per_query = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert all(n == similarity.TOPK for n in per_query.values())
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.2, f"recall {recall}"


def test_pq_training_is_deterministic_and_4bit(spark, sf_dir):
    """PQ codebooks: (PQ_M, PQ_KS, d/PQ_M) shape, bit-identical across
    retrains (fixed seed + fixed Lloyd iterations — the reproducibility
    the 4-bit code layout and any persisted index depend on), and
    reconstruction beats the zero-vector baseline on the sample."""
    import numpy as np

    from mqtt_influx_storage_service_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sample = np.array(
        [r.embedding for r in emb.limit(mlops.PQ_SAMPLE).collect()],
        dtype=np.float64,
    )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    b1 = mlops._pq_train(sample)
    b2 = mlops._pq_train(sample)
    sub = sample.shape[1] // mlops.PQ_M
    assert b1.shape == (mlops.PQ_M, mlops.PQ_KS, sub)
    assert (b1 == b2).all()
    # encode+decode the sample: quantization error < energy (sanity
    # that the codebooks actually learned the subspace structure)
    X = sample.reshape(len(sample), mlops.PQ_M, sub)
    d2 = (
        (X ** 2).sum(axis=2, keepdims=True)
        - 2 * np.einsum("nms,mks->nmk", X, b1)
        + (b1 ** 2).sum(axis=2)[None, :, :]
    )
    codes = d2.argmin(axis=2)
    recon = np.take_along_axis(
        b1[None, :, :, :],
        codes[:, :, None, None].repeat(sub, axis=3),
        axis=2,
    )[:, :, 0, :]
    err = ((X - recon) ** 2).sum()
    energy = (X ** 2).sum()
    assert err / energy < 0.9


def test_ann_construction_fires_no_count(spark, sf_dir, monkeypatch):
    """Constructing the IVF/IVF-PQ DataFrames must not call
    DataFrame.count(): corpus cardinality for the training stride comes
    from parquet footer metadata, not a full-corpus Spark job
    (VERDICT r2 "What's wrong" #4). KMeans.fit over the bounded,
    strided sample and the capped PQ codebook collect are the only
    sanctioned eager actions."""
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("DataFrame.count() called at construction time")

    monkeypatch.setattr(DataFrame, "count", _boom)
    from mqtt_influx_storage_service_spark.operators import mlops

    df1 = mlops.sim_ann_ivf(spark, sf_dir)
    df2 = mlops.sim_ann_ivf_pq(spark, sf_dir)
    assert df1.columns == ["query_id", "neighbor_id", "rank", "cosine"]
    assert df2.columns == ["query_id", "neighbor_id", "rank", "cosine"]


def test_footer_row_count_matches_spark(spark, sf_dir):
    from mqtt_influx_storage_service_spark.sources.tables import table_row_count

    from mqtt_influx_storage_service_spark.sources import load_table

    n_meta = table_row_count(sf_dir, "embeddings")
    n_spark = load_table(spark, sf_dir, "embeddings").count()
    assert n_meta == n_spark > 0


def test_ivf_training_cache_is_transparent(spark, sf_dir):
    """The memoized coarse fit must be bit-identical to a fresh fit
    (deterministic training) and releasable: cold → warm → released →
    re-fit all agree."""
    import numpy as np

    from mqtt_influx_storage_service_spark.operators.mlops import (
        _ivf_train,
        _unit_vectors,
    )
    from mqtt_influx_storage_service_spark.sources.tables import table_row_count

    unit = _unit_vectors(spark, sf_dir)
    n = table_row_count(sf_dir, "embeddings")
    cache.release(spark, "ivf_train")
    c1, s1 = _ivf_train(unit, n, cache_key=sf_dir)
    c2, s2 = _ivf_train(unit, n, cache_key=sf_dir)   # memoized
    assert c1 is c2 and s1 is s2
    assert cache.release(spark, "ivf_train") == 1
    c3, _ = _ivf_train(unit, n, cache_key=sf_dir)    # fresh fit
    assert c3 is not c1
    assert np.array_equal(c1, c3)


def test_ivf_k_scales_with_corpus():
    """Fixed K was the 100x stress's quadratic trap (list size grew
    linearly with the corpus): K must stay at the fixture floor below
    IVF_K*IVF_TARGET_LIST vectors — so every driver-checked fixture
    result is untouched — then grow as n/IVF_TARGET_LIST, capped where
    the bounded training sample would go under 8 points per centroid."""
    from mqtt_influx_storage_service_spark.operators.similarity import (
        IVF_TARGET_LIST,
    )

    assert mlops._ivf_k(2_000) == mlops.IVF_K
    assert mlops._ivf_k(mlops.IVF_K * IVF_TARGET_LIST) == mlops.IVF_K
    assert mlops._ivf_k(200_000) == -(-200_000 // IVF_TARGET_LIST)  # 98
    assert mlops._ivf_k(10**9) == mlops.IVF_SAMPLE // 8  # sample cap binds


def test_fold_dot_kernel_bit_identical_to_spark_fold(spark):
    """The Arrow scoring kernel accumulates dimensions in left-fold
    order, so its doubles must equal Spark's aggregate(zip_with(...))
    fold EXACTLY (==, not approx) — that is what keeps sim_ann_ivf's
    emitted cosines bit-consistent with the fold-scored baselines."""
    import random

    import pyspark.sql.functions as F

    rnd = random.Random(7)
    rows = [
        ([rnd.uniform(-1, 1) for _ in range(64)],
         [rnd.uniform(-1, 1) for _ in range(64)])
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    fold = F.aggregate(
        F.zip_with(F.col("a"), F.col("b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    got = df.select(
        fold.alias("fold"),
        mlops._fold_dot_udf()(F.col("a"), F.col("b")).alias("kernel"),
    ).collect()
    assert all(r["fold"] == r["kernel"] for r in got)


def test_brp_query_side_broadcast_no_bucket_exchange(spark, sf_dir):
    """VERDICT r11 #1b: sim_ann_brp's broadcast hint on the bounded
    query side must SURVIVE MLlib's approxSimilarityJoin internals
    (explode + join — EliminateResolvedHint lifts the hint from the
    join's child subtree): the LSH candidate join plans as a
    BroadcastHashJoin on (entry, hashValue) with the query side
    built, and NO exchange hash-partitions on the bucket key. The
    800k skew census found the alternative — both sides shuffled by
    (hash-table, bucket) key — concentrating the bounded query set's
    handful of buckets on one straggler task; the measured
    before/after at 800k is the STRESS_r12 `brp_census_800k` row."""
    df = mlops.sim_ann_brp(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [entry" in plan, plan
    assert "SortMergeJoin [entry" not in plan, plan
    assert "ShuffledHashJoin [entry" not in plan, plan
    assert "hashpartitioning(entry" not in plan, plan


def test_minhash_ml_join_inputs_are_slim(spark, sf_dir):
    """The r14 slim contract: the MLlib self-join explodes 8 hash
    entries per doc, so no exchange in the plan may carry the raw
    shingle string array — shingles re-attach per CANDIDATE pair via
    the strategy-pinned verify join (aliased sh_a/sh_b), never ride
    the hash-entry explode."""
    import io
    from contextlib import redirect_stdout

    df = mlops.dedup_minhash_ml(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # details section: "(N) Exchange" blocks separated by blank lines
    for block in plan.split("\n\n"):
        if ") Exchange" in block.split("\n")[0]:
            assert "shingles#" not in block, block[:400]
