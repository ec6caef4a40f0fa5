"""Property tests for the hybrid-retrieval tier: text_bm25 (Okapi BM25)
and sim_hybrid_rrf (reciprocal-rank fusion). Oracle hash-equivalence is
covered by tools/check_oracles.py; these pin the retrieval semantics a
hash can't explain by itself."""

from __future__ import annotations

import math

from mqtt_influx_storage_service_spark import cache
from mqtt_influx_storage_service_spark.operators.similarity import (
    RRF_K,
    RRF_POOL,
    RRF_TOPK,
    sim_hybrid_rrf,
)
from mqtt_influx_storage_service_spark.operators.textops import (
    BM25_QUERY_STRIDE,
    BM25_QUERY_TERMS,
    BM25_TOPK,
    _bm25_query_filter,
    bm25_ranked,
    text_bm25,
)
from mqtt_influx_storage_service_spark.sources import load_table


def test_bm25_rank_structure(spark, sf_dir):
    out = text_bm25(spark, sf_dir).toPandas()
    n_queries = (
        load_table(spark, sf_dir, "documents")
        .filter(_bm25_query_filter())
        .count()
    )
    assert set(out["query_id"].unique()) == set(
        range(0, n_queries * BM25_QUERY_STRIDE, BM25_QUERY_STRIDE)
    )
    for qid, grp in out.groupby("query_id"):
        grp = grp.sort_values("rank")
        # contiguous ranks from 1, scores non-increasing, doc_id tiebreak
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= BM25_TOPK
        scores = list(grp["bm25"])
        docs = list(grp["doc_id"])
        for i in range(1, len(grp)):
            assert scores[i - 1] > scores[i] or (
                scores[i - 1] == scores[i] and docs[i - 1] < docs[i]
            )
    # every hit matched at least one and at most all query terms
    assert (out["n_terms"] >= 1).all()
    assert (out["n_terms"] <= BM25_QUERY_TERMS).all()
    assert (out["bm25"] > 0).all()


def test_bm25_hits_contain_query_terms(spark, sf_dir):
    """Retrieval ground truth: every returned doc really contains every
    term BM25 credited it for (n_terms == |query terms ∩ doc words|)."""
    out = text_bm25(spark, sf_dir).toPandas()
    docs = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    qterms = {
        r["doc_id"]: list(
            dict.fromkeys(r["text"].split(" ")[:BM25_QUERY_TERMS])
        )
        for r in load_table(spark, sf_dir, "documents")
        .filter(_bm25_query_filter())
        .collect()
    }
    for _, row in out.iterrows():
        terms = set(qterms[row["query_id"]])
        assert row["n_terms"] == len(terms & docs[row["doc_id"]])


def test_rrf_fusion_arithmetic(spark, sf_dir):
    """rrf_micro must equal the recomputed fusion of the two rank
    columns, and every fused row must come from at least one list."""
    out = sim_hybrid_rrf(spark, sf_dir).toPandas()
    assert len(out) > 0
    for _, row in out.iterrows():
        expected = 0
        for r in (row["rank_text"], row["rank_vec"]):
            if not (r is None or (isinstance(r, float) and math.isnan(r))):
                expected += int(round(1_000_000.0 / (RRF_K + int(r))))
        assert int(row["rrf_micro"]) == expected
        assert expected > 0
    for _, grp in out.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= RRF_TOPK
        micros = list(grp["rrf_micro"])
        docs = list(grp["doc_id"])
        for i in range(1, len(grp)):
            assert micros[i - 1] > micros[i] or (
                micros[i - 1] == micros[i] and docs[i - 1] < docs[i]
            )


def test_rrf_both_lists_beat_single_list_at_same_depth(spark, sf_dir):
    """A doc present in BOTH retriever pools at rank r outscores a doc
    present in only one pool at the same rank r (the defining RRF
    property)."""
    text = bm25_ranked(spark, sf_dir, RRF_POOL).toPandas()
    fused = sim_hybrid_rrf(spark, sf_dir).toPandas()
    both = fused.dropna(subset=["rank_text", "rank_vec"])
    only = fused[fused["rank_text"].isna() | fused["rank_vec"].isna()]
    # The fixture must actually produce both populations — without these
    # the property below would pass vacuously with no signal (ADVICE r4).
    assert len(both) > 0
    assert len(only) > 0
    # Defining RRF property, in its always-comparable form: a doc in
    # BOTH pools at ranks (r1, r2) outscores any single-pool doc whose
    # rank is >= min(r1, r2), because the both-doc's better term alone
    # already dominates the single-doc's whole score.
    compared = 0
    for qid, q_only in only.groupby("query_id"):
        q_both = both[both["query_id"] == qid]
        single_rank = q_only["rank_text"].fillna(q_only["rank_vec"])
        for _, b in q_both.iterrows():
            b_best = int(min(b["rank_text"], b["rank_vec"]))
            for _, s in q_only[single_rank >= b_best].iterrows():
                assert int(b["rrf_micro"]) > int(s["rrf_micro"])
                compared += 1
    assert compared > 0, "no comparable (both, single) pair at this scale"
    assert len(text) > 0


# ---------------------------------------------------------------------------
# sim_mmr — the r14 single-task greedy kernel must be bit-equal to the
# r13 unrolled-plan formulation it replaced (guide §2.6: the unrolled
# plan paid 2 broadcasts + a persist + a stage barrier per pick).
# ---------------------------------------------------------------------------


def test_mmr_round6_matches_spark_round(spark):
    """_round6_like_spark (the kernel's argmax rounding) must agree
    with Spark's Round(double, 6) on adversarial values: exact .5
    boundaries at 6 dp whose BINARY value sits below the decimal
    boundary (shortest-repr rounding differs from exact-binary
    rounding here), negatives, exponents, and fixture-scale cosines."""
    from pyspark.sql import functions as F

    from mqtt_influx_storage_service_spark.operators.similarity import (
        _round6_like_spark,
    )

    vals = [
        0.1234565, 0.1234575, -0.1234565, -0.1234575,  # .5 boundaries
        0.9999995, -0.9999995, 1.0000005,
        1e-7, -1e-7, 4.9999999999e-7, 5.0000000001e-7,
        0.3333333333333333, -0.6666666666666666,
        0.1 + 0.2, 0.7 * 0.515151 - 0.30000000000000004 * 0.424242,
        0.0, -0.0, 1.0, -1.0, 123456.789012345,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    for v, g in zip(vals, got):
        assert _round6_like_spark(v) == g, (v, _round6_like_spark(v), g)


def test_mmr_kernel_matches_unrolled_reference(spark, sf_dir):
    """End-to-end pin: sim_mmr (kernel argmax + declarative re-score)
    must produce EXACTLY the rows of the r13 unrolled lazy-argmax plan,
    reconstructed here verbatim as the reference."""
    from pyspark.sql import functions as F

    from mqtt_influx_storage_service_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_POOL,
        _dot,
        _with_norm,
        sim_mmr,
    )

    cache.release(spark, "mmr")
    got = sim_mmr(spark, sf_dir).toPandas()
    cache.release(spark, "mmr")

    # --- r13 reference formulation (unrolled lazy argmax) ---
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
    pool = (
        rel.orderBy(F.col("rel").desc(), "vec_id").limit(MMR_POOL).persist()
    )
    lam = MMR_LAMBDA
    picks = []
    carry = ["vec_id", "rel", "cv", "n"]
    for rank in range(1, MMR_K + 1):
        if not picks:
            pick = pool.withColumn("score", F.col("rel"))
        else:
            selected = picks[0]
            for p in picks[1:]:
                selected = selected.unionByName(p)
            sel = selected.select(
                F.col("vec_id").alias("s_id"),
                F.col("cv").alias("sv"),
                F.col("n").alias("sn"),
            )
            pen = (
                pool.join(
                    F.broadcast(selected.select("vec_id")),
                    "vec_id",
                    "left_anti",
                )
                .crossJoin(F.broadcast(sel))
                .withColumn(
                    "pair_sim",
                    F.round(
                        _dot(F.col("cv"), F.col("sv"))
                        / (F.col("n") * F.col("sn")),
                        6,
                    ),
                )
                .groupBy(*carry)
                .agg(F.max("pair_sim").alias("pen"))
            )
            pick = pen.withColumn(
                "score",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("pen"),
                    6,
                ),
            )
        picks.append(
            pick.orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
            .select(*carry, "score")
            .withColumn("rank", F.lit(rank).cast("long"))
            .persist()
        )
    ref_df = picks[0]
    for p in picks[1:]:
        ref_df = ref_df.unionByName(p)
    ref = ref_df.select("rank", "vec_id", "rel", "score").toPandas()
    for df in [pool, *picks]:
        df.unpersist()

    got = got.sort_values("rank").reset_index(drop=True)
    ref = ref.sort_values("rank").reset_index(drop=True)
    assert list(got.columns) == list(ref.columns)
    assert len(got) == len(ref) == MMR_K
    for col in got.columns:
        assert list(got[col]) == list(ref[col]), col


def test_bm25_tf_cache_shared_and_released(spark, sf_dir, owned):
    """r14: the vocabulary-pruned tf relation persists ONCE per
    campaign and is shared by text_bm25 and sim_hybrid_rrf (each
    consumer re-tokenized the corpus before); the release seam must
    drop it so re-runs time the plan, and cached vs fresh results must
    be identical."""
    cache.release(spark, "bm25")
    first = text_bm25(spark, sf_dir).toPandas()
    n_keys = len(owned("bm25"))
    assert n_keys >= 1
    sim_hybrid_rrf(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # the hybrid retriever reuses the SAME cached tf — no new key
    assert len(owned("bm25")) == n_keys
    again = text_bm25(spark, sf_dir).toPandas()
    key_cols = ["query_id", "doc_id"]
    assert first.sort_values(key_cols).reset_index(drop=True).equals(
        again.sort_values(key_cols).reset_index(drop=True)
    )
    assert cache.release(spark, "bm25") >= 1
    assert not owned("bm25")
