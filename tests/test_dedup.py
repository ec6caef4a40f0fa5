"""Near-dup operator self-consistency (SURVEY.md §5 item 5): the
hash-based approximators are checked against the exact-Jaccard oracle
query at sf0.001."""

from __future__ import annotations

import pytest

from mqtt_influx_storage_service_spark import cache, plans
from mqtt_influx_storage_service_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    rows = dedup_ngram_jaccard(spark, sf_dir).collect()
    return {(r.doc_a, r.doc_b) for r in rows}


def test_exact_dedup_counts(spark, sf_dir):
    rows = dedup_exact(spark, sf_dir).collect()
    # fixture has no exact dups: every group is a singleton
    assert len(rows) == 500
    assert all(r.n_copies == 1 for r in rows)


def test_minhash_lsh_recall(spark, sf_dir, exact_pairs):
    """LSH candidates verified by exact Jaccard must recover (almost)
    all true pairs and no false positives (verification is exact)."""
    got = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert got <= exact_pairs, f"false positives: {got - exact_pairs}"
    recall = len(got & exact_pairs) / max(len(exact_pairs), 1)
    assert recall >= 0.8, f"recall {recall} over {len(exact_pairs)} true pairs"


def test_simhash_subset_of_near_dups(spark, sf_dir, exact_pairs):
    """Hamming<=3 simhash pairs should be high-similarity documents —
    every reported pair must also be an exact-Jaccard near-dup pair."""
    got = dedup_simhash(spark, sf_dir).collect()
    assert len(got) > 0, "fixture contains near-dups; simhash found none"
    for r in got:
        assert (r.doc_a, r.doc_b) in exact_pairs, (
            f"simhash pair ({r.doc_a},{r.doc_b}) hamming={r.hamming} "
            "is not a true near-dup"
        )


def test_simhash_deterministic(spark, sf_dir):
    a = dedup_simhash(spark, sf_dir).collect()
    b = dedup_simhash(spark, sf_dir).collect()
    assert a == b


def test_hot_bucket_cap_bounds_candidates(spark, tmp_path):
    """Skew scenario: 120 identical boilerplate docs (every LSH band
    bucket = all 120 members, way over LSH_BUCKET_CAP) plus two cold
    near-dup pairs. The cap must drop the degenerate buckets — keeping
    candidate generation bounded — while the cold pairs, whose buckets
    are small, are still found. The dropped buckets are visible via
    lsh_hot_buckets (truncation is never silent)."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        dedup_minhash_lsh,
        lsh_hot_buckets,
    )

    boiler = " ".join(f"boiler{i}" for i in range(30))
    cold1 = " ".join(f"colda{i}" for i in range(30))
    cold2 = " ".join(f"coldb{i}" for i in range(30))
    rows = [(i, boiler) for i in range(120)]
    rows += [(200, cold1), (201, cold1 + " extrawa"),
             (300, cold2), (301, cold2 + " extrawb")]
    sf = str(tmp_path / "skew")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(4).write.parquet(
        f"{sf}/documents.parquet"
    )
    try:
        hot = lsh_hot_buckets(spark, sf).collect()
        assert len(hot) > 0 and all(r.n_members == 120 for r in hot)
        pairs = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf).collect()}
        # cold pairs survive: their buckets are far below the cap
        assert (200, 201) in pairs and (300, 301) in pairs
        # the 120-member boilerplate cluster would contribute C(120,2) =
        # 7140 pairs; with every one of its buckets over the cap it
        # contributes none
        assert len(pairs) == 2
        assert LSH_BUCKET_CAP < 120
    finally:
        cache.release(spark)


def test_shingle_df_cap_bounds_pair_stage_keeps_exactness(spark, tmp_path):
    """VERDICT r8 #1 scenario in miniature: a boilerplate corpus where
    one shared vocabulary spans 120 docs (every one of its shingles has
    df=120, over SHINGLE_DF_CAP — at 100x this Σ c(s)² pair stage
    killed the SparkContext) plus near-dup pairs that ALSO carry
    pair-unique shingles. The df cap must (a) surface the over-cap
    shingles via jaccard_hot_shingles — never silent — (b) still find
    every pair that shares at least one under-cap shingle, with EXACT
    jaccard (the verify step intersects the FULL arrays, over-cap
    shingles included), and (c — r10 rescue tier) recover pairs
    bridged ONLY by over-cap shingles through the bounded hash-sample:
    the 120 identical boilerplate docs share >= 2 over-cap shingles,
    so the sampled buckets rescue (a bounded subset of) their true-dup
    pairs instead of the r9 behavior of dropping all 7140."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        SHINGLE_DF_CAP,
        dedup_ngram_jaccard,
        jaccard_hot_shingles,
    )

    boiler = " ".join(f"boiler{i}" for i in range(40))
    rows = [(i, boiler) for i in range(120)]
    # two docs = the boilerplate + a shared UNIQUE tail: their pair
    # shares the tail's under-cap shingles, so the candidate stage must
    # keep them, and their jaccard must count the boilerplate shingles
    # too (exact verify), not just the surviving blockers
    tail = " ".join(f"tailw{i}" for i in range(10))
    rows += [(200, boiler + " " + tail), (201, boiler + " " + tail + " xx")]
    sf = str(tmp_path / "dfskew")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(4).write.parquet(
        f"{sf}/documents.parquet"
    )
    try:
        hot = jaccard_hot_shingles(spark, sf).collect()
        assert len(hot) > 0 and all(r.df >= 120 for r in hot)
        got = {(r.doc_a, r.doc_b): r for r in dedup_ngram_jaccard(spark, sf).collect()}
        # under-cap tier unchanged: the tailed pair survives through
        # its under-cap tail shingles with exact jaccard (n_inter
        # counts the over-cap boilerplate shingles as well: 38 boiler
        # + 3 bridge + 8 tail shared 3-shingles)
        assert (200, 201) in got
        r = got[(200, 201)]
        assert r.n_inter > 40, r
        assert r.jaccard > 0.9, r
        # rescue tier: the pure-boilerplate docs (identical text,
        # jaccard 1.0, bridged ONLY by over-cap shingles — the r9 plan
        # lost all of them) contribute pairs again, every one verified
        # exact; volume stays bounded by C(CAP+1, 2) per bucket
        rescued = {p for p in got if p != (200, 201)}
        assert len(rescued) > 0, "rescue tier recovered nothing"
        # pure-boilerplate pairs are identical docs: exact verify must
        # report jaccard 1.0; boiler x tailed-doc pairs are genuine
        # near-dups at 38/48 (vs 200) or 38/49 (vs 201)
        legal = {1.0, round(38 / 48, 6), round(38 / 49, 6)}
        assert all(
            got[p].jaccard
            == (1.0 if p[1] < 200 else round(38 / (48 + p[1] - 200), 6))
            for p in rescued
        ) and {got[p].jaccard for p in rescued} <= legal, sorted(rescued)[:5]
        assert SHINGLE_DF_CAP < 120
    finally:
        cache.release(spark)


def test_rescue_tier_cooc_gate(spark, tmp_path):
    """The r10 rescue tier's two contracts, deterministically:

    (a) a pair bridged by >= RESCUE_COOC_MIN over-cap shingle buckets
    IS a candidate — with df = SHINGLE_DF_CAP + 1 the 'sample' keeps
    every member (rank <= CAP+1), so no hash luck is involved;
    (b) a pair whose ONLY bridge is a single over-cap bucket is NOT
    (the co-occurrence gate: one shared boilerplate phrase between
    otherwise-unrelated docs is a coincidence, not a near-dup signal).
    """
    from mqtt_influx_storage_service_spark.operators.dedup import (
        RESCUE_COOC_MIN,
        SHINGLE_DF_CAP,
        _shingle_candidates,
    )

    assert RESCUE_COOC_MIN == 2  # the fixture encodes exactly this gate
    n = SHINGLE_DF_CAP + 1  # every bucket JUST over cap: sample == all
    # Two 3-word bridge phrases. Docs 0 and 1 carry BOTH (their filler
    # words differ, so the two bridge 3-shingles are their ONLY shared
    # shingles -> cooc = 2 -> rescued). Padding docs give each bridge
    # shingle df = n = CAP+1 (over cap, but the rank<=CAP+1 sample
    # keeps every member — no hash luck, fully deterministic); any two
    # padding docs of the same family share EXACTLY one over-cap
    # shingle -> cooc = 1 -> gated out.
    rows = [
        (0, "h1 h2 h3 m0a m0b k1 k2 k3"),
        (1, "h1 h2 h3 m1a m1b k1 k2 k3"),
    ]
    rows += [(i, f"h1 h2 h3 p{i}a p{i}b p{i}c") for i in range(2, n)]
    rows += [(1000 + j, f"k1 k2 k3 w{j}a w{j}b w{j}c") for j in range(n - 2)]
    sf = str(tmp_path / "coocgate")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(4).write.parquet(
        f"{sf}/documents.parquet"
    )
    try:
        cand = {(r.doc_a, r.doc_b) for r in _shingle_candidates(spark, sf).collect()}
        assert cand == {(0, 1)}, sorted(cand)[:10]
    finally:
        cache.release(spark)


def test_hot_shingle_audit_empty_on_fixtures(spark, sf_dir):
    """The fixtures' max shingle df (7 at sf0.01 / 25 at sf0.1) sits
    far under SHINGLE_DF_CAP, so the capped candidate stage is
    provably a no-op there — the premise behind 'driver oracle hashes
    unchanged' for the r9 plan change."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        jaccard_hot_shingles,
    )

    assert jaccard_hot_shingles(spark, sf_dir).count() == 0


def test_release_shingles_unpersists(spark, sf_dir, owned):
    """The shared shingle table is persisted once per (app, sf_dir) and
    must be releasable — a long-lived service can't pin executor memory
    forever."""
    dedup_ngram_jaccard(spark, sf_dir).collect()  # materializes the cache
    assert len(owned("shingles")) >= 1
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    released = cache.release(spark, "shingles")
    assert released >= 1
    assert jsc.getPersistentRDDs().size() <= before - released
    assert not owned("shingles")


def test_components_fixpoint_and_semantics(spark, sf_dir):
    """CC_ROUNDS is enough: running one EXTRA propagation round must not
    change any label (fixpoint reached), labels must agree with the
    driver-loop converged variant, and sizes/representatives must be
    internally consistent."""
    import mqtt_influx_storage_service_spark.operators.dedup as dd

    base = {r.doc_id: r for r in dd.dedup_components(spark, sf_dir).collect()}
    try:
        dd.CC_ROUNDS += 1
        extra = {
            r.doc_id: r.component_id
            for r in dd.dedup_components(spark, sf_dir).collect()
        }
    finally:
        dd.CC_ROUNDS -= 1
    assert {d: r.component_id for d, r in base.items()} == extra

    conv = {
        r.doc_id: r.component_id
        for r in dd.dedup_components_converged(spark, sf_dir).collect()
    }
    assert {d: r.component_id for d, r in base.items()} == conv

    # every doc assigned; component_id is the min member; sizes add up
    import collections

    members = collections.defaultdict(set)
    for d, r in base.items():
        members[r.component_id].add(d)
    for cid, ms in members.items():
        assert cid == min(ms)
        for d in ms:
            assert base[d].component_size == len(ms)
            assert base[d].is_representative == (d == cid)

    # near-dup pairs land in the same component
    for r in dd.dedup_ngram_jaccard(spark, sf_dir).collect():
        assert base[r.doc_a].component_id == base[r.doc_b].component_id
    cache.release(spark)


def test_passage_dedup_exact_duplicates_fully_flagged(spark, sf_dir):
    """Every block of an exact-duplicate document pair must be flagged
    (their block hashes all collide), and a ratio is always in [0,1]
    with n_dup <= n_passages."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        dedup_passage,
    )
    from mqtt_influx_storage_service_spark.sources import load_table

    out = dedup_passage(spark, sf_dir).toPandas().set_index("doc_id")
    assert (out["n_dup_passages"] <= out["n_passages"]).all()
    assert ((out["dup_ratio"] >= 0) & (out["dup_ratio"] <= 1)).all()
    docs = load_table(spark, sf_dir, "documents").toPandas()
    dup_texts = docs[docs.duplicated("text", keep=False)]
    for _, row in dup_texts.iterrows():
        assert out.loc[row["doc_id"], "dup_ratio"] == 1.0


def test_edge_cap_preserves_dense_group_components(spark, tmp_path):
    """Dense-group scenario (VERDICT r4 #5): a 30-member near-dup
    group (every member's degree 29 ≫ EDGE_CAP) plus a cold pair. The
    per-node cap must trim the propagation edges — visible via
    component_edge_trim, never silent — while every group member still
    collapses to ONE component (each keeps its smallest-id neighbor,
    so the min-label star survives the trim)."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        EDGE_CAP,
        component_edge_trim,
        dedup_components,
    )

    base = [f"w{i}" for i in range(40)]
    rows = []
    # 30 rotation variants: adjacent rotations share ~all shingles, so
    # the group is densely connected (jaccard well above threshold)
    for v in range(30):
        rows.append((v, " ".join(base[v % 3:] + base[: v % 3])))
    cold = " ".join(f"cold{i}" for i in range(30))
    rows += [(100, cold), (101, cold)]
    sf = str(tmp_path / "dense")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(4).write.parquet(
        f"{sf}/documents.parquet"
    )
    try:
        trims = component_edge_trim(spark, sf).collect()
        assert len(trims) > 0 and all(r.degree > EDGE_CAP for r in trims)
        comp = {r.doc_id: r.component_id for r in dedup_components(spark, sf).collect()}
        # the whole dense group lands in the min-id component
        assert {comp[v] for v in range(30)} == {0}
        assert comp[100] == comp[101] == 100
    finally:
        cache.release(spark)


def test_edge_trim_audit_empty_on_fixtures(spark, sf_dir):
    from mqtt_influx_storage_service_spark.operators.dedup import component_edge_trim

    assert component_edge_trim(spark, sf_dir).count() == 0


def test_containment_detects_quotes_jaccard_misses(spark, tmp_path):
    """A short doc fully quoted inside a much longer one: containment
    (short→long) is 1.0 while symmetric Jaccard is diluted far below
    the dedup threshold — the case the asymmetric measure exists for.
    The reverse direction (long→short) must NOT fire."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    quote = " ".join(f"q{i}" for i in range(20))
    filler = " ".join(f"f{i}" for i in range(200))
    rows = [
        (1, quote),                       # the short original
        (2, filler + " " + quote),        # long page embedding the quote
        (3, " ".join(f"z{i}" for i in range(50))),  # unrelated
    ]
    sf = str(tmp_path / "quotes")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    try:
        cont = {
            (r.doc_a, r.doc_b): r.containment
            for r in dedup_containment(spark, sf).collect()
        }
        assert (1, 2) in cont and cont[(1, 2)] >= 0.9
        assert (2, 1) not in cont  # asymmetric: the long page is not contained
        assert all(3 not in k for k in cont)
        jac = {(r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf).collect()}
        assert (1, 2) not in jac  # symmetric Jaccard is diluted below 0.5
    finally:
        cache.release(spark)


def test_substring_dedup_span_semantics(spark, tmp_path):
    """Rolling-window substring dedup recovers the MAXIMAL shared span
    exactly: a 40-token span shared at different alignments inside two
    otherwise-unrelated docs yields max_dup_span == 40 in both, a doc
    shorter than K has zero windows and stays clean, and a span
    repeated only WITHIN one doc does not count (cross-document
    semantics)."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        SUBSTR_TOKENS,
        dedup_substring,
    )

    shared = " ".join(f"s{i}" for i in range(40))
    a_filler = " ".join(f"a{i}" for i in range(30))
    b_filler = " ".join(f"b{i}" for i in range(55))
    rep = " ".join(f"r{i}" for i in range(SUBSTR_TOKENS))
    rows = [
        (1, a_filler + " " + shared),               # span at the end
        (2, shared + " " + b_filler),               # span at the start
        (3, "tiny doc"),                            # < K tokens
        (4, rep + " x0 x1 x2 " + rep),              # self-repeat only
        (5, " ".join(f"u{i}" for i in range(60))),  # unique
    ]
    sf = str(tmp_path / "substr")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = dedup_substring(spark, sf).toPandas().set_index("doc_id")
    assert int(out.loc[1, "max_dup_span"]) == 40
    assert int(out.loc[2, "max_dup_span"]) == 40
    # shared windows = 40 - K + 1 at stride 1
    assert int(out.loc[1, "n_dup_windows"]) == 40 - SUBSTR_TOKENS + 1
    assert int(out.loc[3, "n_windows"]) == 0
    assert float(out.loc[3, "dup_ratio"]) == 0.0
    assert int(out.loc[4, "n_dup_windows"]) == 0  # within-doc repeat ignored
    assert int(out.loc[5, "n_dup_windows"]) == 0
    assert float(out.loc[1, "dup_ratio"]) > 0
    # the spans form emits the exact maximal spans, 1-based offsets
    from mqtt_influx_storage_service_spark.operators.dedup import (
        dedup_substring_spans,
    )

    spans = {
        r.doc_id: (r.span_start, r.span_len)
        for r in dedup_substring_spans(spark, sf).collect()
    }
    assert spans == {1: (31, 40), 2: (1, 40)}
    # the scrub cuts EXACTLY the span-covered tokens and rebuilds the
    # rest in order: doc 1 keeps its 30 filler tokens, doc 2 its 55,
    # untouched docs come back token-identical with n_removed = 0
    from mqtt_influx_storage_service_spark.operators.dedup import (
        dedup_substring_scrub,
    )

    scrub = {
        r.doc_id: r for r in dedup_substring_scrub(spark, sf).collect()
    }
    assert scrub[1].n_removed == 40 and scrub[1].clean_text == a_filler
    assert scrub[2].n_removed == 40 and scrub[2].clean_text == b_filler
    for d, original in ((3, rows[2][1]), (4, rows[3][1]), (5, rows[4][1])):
        assert scrub[d].n_removed == 0
        assert scrub[d].clean_text == original
    assert scrub[1].n_tokens == 70 and scrub[3].n_tokens == 2


def test_substring_kernels_agree(spark, sf_dir):
    """The scale kernel (xxhash64 over the token-array slice, engaged
    above SUBSTR_EXACT_MAX docs) returns the same marked windows as the
    oracle-hashable md5 kernel on the fixture — the hash function is an
    implementation detail of window identity, not of the semantics."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        SUBSTR_EXACT_MAX,
        _substring_marked,
    )

    a = {
        (r.doc_id, r.pos): (r.dup, r.real)
        for r in _substring_marked(spark, sf_dir, force_kernel="md5").collect()
    }
    b = {
        (r.doc_id, r.pos): (r.dup, r.real)
        for r in _substring_marked(
            spark, sf_dir, force_kernel="xxhash"
        ).collect()
    }
    assert a == b and len(a) > 0
    # the Rabin-Karp token-id kernel (selectable; see the measured
    # kernel comparison at SUBSTR_EXACT_MAX) marks the same windows —
    # token-id Horner hashing is window identity too
    c = {
        (r.doc_id, r.pos): (r.dup, r.real)
        for r in _substring_marked(
            spark, sf_dir, force_kernel="rabin"
        ).collect()
    }
    assert a == c
    assert SUBSTR_EXACT_MAX >= 10_000  # fixtures stay on the md5 path


def test_rabin_window_hashes_shape():
    """The Rabin-Karp hasher's contract: n−k+1 hashes for an n-token
    doc, empty for sub-k docs, equal windows ⇒ equal hashes, and a
    one-token difference anywhere in the window changes the hash."""
    import numpy as np
    import pandas as pd

    from mqtt_influx_storage_service_spark.operators.dedup import (
        _RK_BASE,
    )

    # replicate the UDF body directly (pure numpy, no Spark needed)
    def wh(doc, k=4):
        toks = doc.split(" ") if doc else []
        n = len(toks)
        if n < k:
            return []
        ids = pd.util.hash_array(np.asarray(toks, dtype=object))
        m = n - k + 1
        h = np.zeros(m, dtype=np.uint64)
        base = np.uint64(_RK_BASE)
        for j in range(k):
            h = h * base + ids[j : j + m]
        return h.astype(np.int64).tolist()

    a = wh("a b c d e f g h")
    assert len(a) == 5
    assert wh("a b c") == []
    assert wh("") == []
    # shared 4-token window at different alignments hashes identically
    b = wh("x a b c d e")
    assert a[0] == b[1] and a[1] == b[2]
    # changing one token changes every window containing it
    cdoc = wh("a b Z d e f g h")
    assert all(x != y for x, y in zip(a[:3], cdoc[:3]))


def test_semdedup_matches_brute_force(spark, sf_dir):
    """dedup_semantic == the paper's rule computed naively: assign each
    vector to its nearest label centroid (argmax cosine, smaller label
    on ties), order each cluster by (cos-to-centroid ASC, vec_id), drop
    a vector iff ANY earlier member of its cluster is within
    SEMDEDUP_EPS."""
    import numpy as np

    from mqtt_influx_storage_service_spark.operators.dedup import (
        SEMDEDUP_EPS,
        dedup_semantic,
    )
    from mqtt_influx_storage_service_spark.sources import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(vecs[r.vec_id])

    def cos6(a, b):
        return round(float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)), 6)

    # exact-integer centroids, as both engines compute them
    cents = {}
    for lbl, vs in by_label.items():
        micro = np.stack(
            [np.floor(np.abs(v) * 1e6 + 0.5) * np.sign(v) for v in vs]
        ).astype(np.int64)
        cents[lbl] = micro.sum(axis=0) / (len(vs) * 1e6)
    clusters = {}
    for vid, v in vecs.items():
        cc, cl = max(
            ((cos6(v, c), -lbl) for lbl, c in cents.items())
        )
        clusters.setdefault(-cl, []).append((cc, vid))
    expect = {}
    for cl, members in clusters.items():
        order = sorted(members)
        for i, (cc, vid) in enumerate(order):
            dropped = any(
                cos6(vecs[uid], vecs[vid]) >= SEMDEDUP_EPS
                for _, uid in order[:i]
            )
            expect[vid] = (cl, cc, not dropped)
    got = {
        r.vec_id: (r.cluster, r.cos_c, r.kept)
        for r in dedup_semantic(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(1 for _, _, k in got.values() if not k) > 0


def test_semdedup_ivf_exact_below_gate(spark, sf_dir):
    """Below GEMM_EXACT_MAX the IVF-regime SemDeDup's candidate set is
    the exact all-pairs kernel, so its keep-list equals the brute-force
    GLOBAL rule: every eps-pair drops its later-priority endpoint
    (priority = cosine to nearest coarse centroid ascending, vec_id
    tiebreak)."""
    import numpy as np

    from mqtt_influx_storage_service_spark.operators.dedup import (
        SEMDEDUP_EPS,
        dedup_semantic_ivf,
    )
    from mqtt_influx_storage_service_spark.operators.similarity import (
        _pair_centroids,
    )
    from mqtt_influx_storage_service_spark.sources import load_table
    from mqtt_influx_storage_service_spark.sources.tables import table_row_count

    # rebalance=True matches the operator's load: Lloyd's init reads
    # the sample in collect order, so the centroid set is a function of
    # the exact input plan
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    centers = _pair_centroids(emb, table_row_count(sf_dir, "embeddings"))
    C = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    prio = {}
    for vid, v in vecs.items():
        u = v / np.linalg.norm(v)
        s = u @ C.T
        prio[vid] = (round(float(s.max()), 6), vid)

    def cos6(a, b):
        return round(float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)), 6)

    ids = sorted(vecs)
    dropped = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if cos6(vecs[a], vecs[b]) >= SEMDEDUP_EPS:
                dropped.add(b if prio[a] < prio[b] else a)
    got = {r.vec_id: r.kept for r in dedup_semantic_ivf(spark, sf_dir).collect()}
    assert got == {vid: vid not in dropped for vid in ids}
    assert len(dropped) > 0


def test_semantic_gate_switches_to_ivf(spark, sf_dir, monkeypatch):
    """VERDICT r6 #4: above GEMM_EXACT_MAX vectors the registered
    dedup_semantic entry routes through the IVF composition — forced
    here by dropping the gate to 0; the result must equal a direct
    dedup_semantic_ivf call row-for-row."""
    from mqtt_influx_storage_service_spark import sources as SRC
    from mqtt_influx_storage_service_spark.operators import dedup as D

    direct = {
        (r.vec_id): (r.cluster, r.cos_c, r.kept)
        for r in D.dedup_semantic_ivf(spark, sf_dir).collect()
    }
    # Fake ONLY the router's corpus-size probe (the package-level
    # re-export dedup_semantic reads): the IVF composition itself and
    # the pair kernel keep their real (below-gate, exact) regime, so
    # this isolates the routing decision.
    real = SRC.table_row_count

    def fake(sf, table):
        n = real(sf, table)
        return 10_001 if table == "embeddings" else n

    monkeypatch.setattr(SRC, "table_row_count", fake)
    routed = {
        (r.vec_id): (r.cluster, r.cos_c, r.kept)
        for r in D.dedup_semantic(spark, sf_dir).collect()
    }
    assert routed == direct and len(routed) > 0


def test_semantic_assigned_is_cached_and_released(spark, sf_dir):
    """The assignment relation persists once per (app, sf_dir) under
    the campaign tag ``semantic`` and the campaign teardown drops it."""
    from mqtt_influx_storage_service_spark.operators import dedup as D

    cache.release(spark)
    a = D._semantic_assigned(spark, sf_dir)
    b = D._semantic_assigned(spark, sf_dir)
    assert a is b
    assert a.storageLevel.useMemory
    assert cache.release(spark) >= 1
    c = D._semantic_assigned(spark, sf_dir)
    assert c is not a
    cache.release(spark)


def test_semdedup_ivf_kernel_above_gate_matches_within_cluster_rule(
    spark, sf_dir, monkeypatch
):
    """VERDICT r11 #1a / ADVICE r11: the above-gate SemDeDup path —
    ONE per-cluster Arrow kernel (_semdedup_list_verdicts) via
    groupBy(cl).applyInPandas — is what a 100-TB run executes, and it
    is a semantic change vs the below-gate exact path (within-cluster
    pruning, the paper's rule, vs the global pair rule). Force the
    gate to 0 so the kernel runs on the fixture and pin its verdicts
    row-for-row against the brute-force NumPy WITHIN-CLUSTER rule:
    assign each vector to its nearest coarse centroid (stable argmax,
    round-6 cosine), sort each cluster by (cos_c, vec_id), drop a row
    iff ANY earlier row in ITS cluster is an eps-neighbor (round-6
    cosine >= SEMDEDUP_EPS, dropped or not — pairwise, not
    transitive)."""
    import collections

    import numpy as np

    from mqtt_influx_storage_service_spark.operators import dedup as D
    from mqtt_influx_storage_service_spark.operators import similarity as S
    from mqtt_influx_storage_service_spark.sources import load_table
    from mqtt_influx_storage_service_spark.sources.tables import (
        table_row_count,
    )

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    n = table_row_count(sf_dir, "embeddings")
    centers = S._pair_centroids(emb, n)
    C = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    clusters = collections.defaultdict(list)
    info = {}
    for r in emb.select("vec_id", "embedding").collect():
        v = np.asarray(r.embedding, dtype=np.float64)
        u = v / np.linalg.norm(v)
        s = u @ C.T
        cl = int(s.argmax())
        info[r.vec_id] = (cl, round(float(s[cl]), 6), u)
        clusters[cl].append(r.vec_id)
    expect = {}
    for cl, ids in clusters.items():
        ordered = sorted(ids, key=lambda i: (info[i][1], i))
        for i, vid in enumerate(ordered):
            dropped = any(
                float(np.round(info[vid][2] @ info[p][2], 6))
                >= D.SEMDEDUP_EPS
                for p in ordered[:i]
            )
            expect[vid] = (cl, info[vid][1], not dropped)

    monkeypatch.setattr(S, "GEMM_EXACT_MAX", 0)
    got = {
        r.vec_id: (r.cluster, r.cos_c, r.kept)
        for r in D.dedup_semantic_ivf(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(1 for _, _, kept in got.values() if not kept) > 0


def test_grid_verify_equals_plain_verify(spark, sf_dir, monkeypatch, owned):
    """VERDICT r12 #4: above the gate + at high measured candidate
    multiplicity, _verify_joined swaps the per-pair verify (arrays
    shipped once per PAIR — a measured 6.2 GB exchange at the 100x
    corpus) for the grid verify (arrays shipped B per DOC, fat
    intermediate never crosses an exchange). The cell columns are
    deterministic functions of the join keys, so the output multiset
    must be row-identical — pinned here by forcing the gates down so
    the fixture corpus takes the grid path, for both candidate tags
    (shingle-blocked and minhash-banded)."""
    from mqtt_influx_storage_service_spark.operators import dedup as DD

    plain_j = sorted(map(tuple, DD.dedup_ngram_jaccard(spark, sf_dir).collect()))
    plain_m = sorted(map(tuple, DD.dedup_minhash_lsh(spark, sf_dir).collect()))
    monkeypatch.setattr(DD, "VERIFY_GRID_GATE", 10)
    monkeypatch.setattr(DD, "VERIFY_GRID_MIN_MULT", 0)
    # r15: force the over-cap regime so jaccard keeps the full
    # candidates→verify plan (the fixture corpus is clean and would
    # otherwise take the exact-count fork, bypassing the grid — which
    # is correct behavior, but not what this test pins)
    monkeypatch.setattr(DD, "_corpus_has_overcap", lambda *_: True)
    cache.release(spark)
    try:
        grid_j = sorted(
            map(tuple, DD.dedup_ngram_jaccard(spark, sf_dir).collect())
        )
        grid_m = sorted(
            map(tuple, DD.dedup_minhash_lsh(spark, sf_dir).collect())
        )
        # the campaign cache holds one persisted candidate set per tag
        tags = sorted(tag for _, tag in owned("candidates"))
        assert tags == ["banded", "shingle"]
    finally:
        cache.release(spark)
    assert grid_j == plain_j and len(plain_j) > 0
    assert grid_m == plain_m and len(plain_m) > 0


def test_exact_count_fork_matches_array_verify(spark, sf_dir, monkeypatch, owned):
    """r15: on corpora with no over-cap shingle the candidate stage's
    co-occurrence count IS |A ∩ B| (every bucket complete), so jaccard
    and containment skip the array-verify join entirely. Pins (a) the
    fork engages on the clean fixture, with NO array column in any
    exchange and no join, (b) rows identical to the legacy
    candidates→array-verify plan, (c) the over-cap statistic itself:
    False on the fixture, True on a synthetic boilerplate corpus, and
    released with the campaign caches."""
    from mqtt_influx_storage_service_spark.operators import dedup as DD

    cache.release(spark)
    try:
        # (c) statistic: clean fixture -> False, memoized
        assert DD._corpus_has_overcap(spark, sf_dir) is False
        assert owned("overcap")[sf_dir] is False
        # (a) fork plan: no SortMergeJoin / array_intersect / grid
        fast_j = DD.dedup_ngram_jaccard(spark, sf_dir)
        plan = fast_j._jdf.queryExecution().executedPlan().toString()
        assert "array_intersect" not in plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        assert plans.exchange_count(fast_j) == 2
        fast_rows = sorted(map(tuple, fast_j.collect()))
        fast_cont = sorted(
            map(tuple, DD.dedup_containment(spark, sf_dir).collect())
        )
        # (b) row parity vs the legacy verify plan
        monkeypatch.setattr(DD, "_corpus_has_overcap", lambda *_: True)
        slow_rows = sorted(
            map(tuple, DD.dedup_ngram_jaccard(spark, sf_dir).collect())
        )
        slow_cont = sorted(
            map(tuple, DD.dedup_containment(spark, sf_dir).collect())
        )
        assert fast_rows == slow_rows and len(fast_rows) > 0
        assert fast_cont == slow_cont and len(fast_cont) > 0
    finally:
        monkeypatch.undo()
        cache.release(spark)
        assert sf_dir not in owned("overcap")  # released with the campaign


def test_corpus_has_overcap_true_on_boilerplate(spark, tmp_path):
    """The over-cap statistic must flip TRUE the moment one shingle's
    df exceeds SHINGLE_DF_CAP — the regime where sampled buckets make
    cooc an undercount and the exact-count fork would be WRONG."""
    from mqtt_influx_storage_service_spark.operators import dedup as DD

    n = DD.SHINGLE_DF_CAP + 1
    rows = [(i, f"b1 b2 b3 f{i}a f{i}b f{i}c") for i in range(n)]
    sf = str(tmp_path / "overcap")
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(4).write.parquet(f"{sf}/documents.parquet")
    try:
        assert DD._corpus_has_overcap(spark, sf) is True
        # and the queries route through the verify plan (array verify)
        plan = (
            DD.dedup_ngram_jaccard(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "array_intersect" in plan
    finally:
        cache.release(spark)


def test_grid_cell_map_places_one_cell_per_partition(spark):
    """r14: the grid shuffles on a synthetic `_cell` whose values are
    chosen so HashPartitioning(value, b²) is a bijection onto
    partitions — one cell per partition, no balls-in-bins (the 100x
    census's work-ratio-252 verify straggler: 4 whole cells in one
    task, ~23 empty tasks). Pins (a) the table is injective, (b) each
    value lands in ITS OWN partition under the exact hash Spark's
    HashPartitioning uses (F.hash = murmur3, pmod n), (c) the memo
    returns the same table (pure function of b²)."""
    from pyspark.sql import functions as F

    from mqtt_influx_storage_service_spark.operators import dedup as DD

    for n in (64, 256):  # b=8 (derived at 32-core local) and b=16
        m = DD._grid_cell_map(spark, n)
        assert len(m) == n and len(set(m)) == n
        placed = (
            spark.createDataFrame(
                [(c, v) for c, v in enumerate(m)], "cell long, v long"
            )
            .select("cell", F.pmod(F.hash(F.col("v")), F.lit(n)).alias("p"))
            .collect()
        )
        assert all(r["cell"] == r["p"] for r in placed)
        assert DD._grid_cell_map(spark, n) is m  # memoized, no re-search


def test_grid_verify_gates(spark, sf_dir, monkeypatch, owned):
    """Below VERIFY_GRID_GATE nothing changes: no candidate persist, no
    count job, plain per-pair plan (the fixture/bench scales). Above
    the gate but below VERIFY_GRID_MIN_MULT (the realistic low-dup-rate
    100 TB corpus, where B-fold doc replication would LOSE to per-pair
    shipping) the plan stays per-pair but reads the now-persisted
    candidate set."""
    from mqtt_influx_storage_service_spark.operators import dedup as DD

    cache.release(spark)
    # r15: pin the legacy path (the clean fixture would otherwise take
    # the exact-count fork, which has no grid machinery to gate)
    monkeypatch.setattr(DD, "_corpus_has_overcap", lambda *_: True)
    df = DD.dedup_ngram_jaccard(spark, sf_dir)
    assert not owned("candidates")  # below gate: construction ran no job
    assert "pmod(xxhash64(doc_a" not in df._jdf.queryExecution().toString()

    # above gate, low multiplicity: persisted + counted, still per-pair
    monkeypatch.setattr(DD, "VERIFY_GRID_GATE", 10)
    monkeypatch.setattr(DD, "VERIFY_GRID_MIN_MULT", 10**9)
    cache.release(spark)
    try:
        df2 = DD.dedup_ngram_jaccard(spark, sf_dir)
        _, n_pairs = next(iter(owned("candidates").values()))
        assert n_pairs > 0
        plan2 = df2._jdf.queryExecution().toString()
        assert "pmod(xxhash64(doc_a" not in plan2
    finally:
        cache.release(spark)
    assert not owned("candidates")


def test_below_band_escape_threads_through_composed_callers(
    spark, sf_dir, monkeypatch
):
    """VERDICT r12 #7: the pair-tier recall contract's escape hatch
    must be reachable from every composed caller, not just the kernel.
    dedup_embedding_cosine (threshold 0.4) and dedup_threshold_sweep
    (min threshold 0.30) both sit below PAIR_BAND_MIN: above
    GEMM_EXACT_MAX their registered defaults REFUSE with the curve
    citation (intended — census-observed at 800k), and
    below_band='exact' routes to the recall-1.0 tile kernel, producing
    the same rows the sub-gate fixture run produces. (The third
    composed caller, dedup_semantic, is structurally immune: above the
    gate it routes to the per-cluster kernel and never builds the pair
    relation — pinned by test_semantic_gate_switches_to_ivf and the
    forced-gate kernel test.)"""
    import pytest

    from mqtt_influx_storage_service_spark.operators import dedup as D
    from mqtt_influx_storage_service_spark.operators import similarity as S

    expected_cos = sorted(
        map(tuple, D.dedup_embedding_cosine(spark, sf_dir).collect())
    )
    expected_sweep = sorted(
        map(tuple, D.dedup_threshold_sweep(spark, sf_dir).collect())
    )
    monkeypatch.setattr(S, "GEMM_EXACT_MAX", 10)
    for fn in (D.dedup_embedding_cosine, D.dedup_threshold_sweep):
        with pytest.raises(ValueError, match="competence band"):
            fn(spark, sf_dir).collect()
        with pytest.raises(ValueError, match="not one of"):
            fn(spark, sf_dir, below_band="exactt").collect()
    got_cos = sorted(map(tuple, D.dedup_embedding_cosine(
        spark, sf_dir, below_band="exact").collect()))
    got_sweep = sorted(map(tuple, D.dedup_threshold_sweep(
        spark, sf_dir, below_band="exact").collect()))
    assert got_cos == expected_cos and len(got_cos) > 0
    assert got_sweep == expected_sweep and len(got_sweep) > 0
