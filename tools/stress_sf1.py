"""sf1.0 stress pass for the dedup/similarity tier (VERDICT r3 "Next
round" #7): no sf1.0 fixture ships with the sandbox, so this script
SYNTHESIZES one at 10x the bench scale — 50k documents / 20k embedding
vectors — runs the three candidate-volume-sensitive queries, and
audits that the LSH bucket cap still bounds every bucket.

Synthesis keeps the fixtures' dup structure realistic at 10x:

- documents: each sf0.1 doc yields 10 variants; variant 0 is verbatim
  (the "original"), variants 1-9 rotate the word order by i words and
  drop the last i words — high-but-not-identical shingle overlap, so
  near-dup groups GROW with scale exactly the way a rescraped crawl's
  do (the adversarial case for candidate volume and component size).
- embeddings: each sf0.1 vector yields 10 variants with a small
  deterministic per-dimension perturbation — dense cosine
  neighborhoods around every original.
- events: each sf0.1 event yields 10 variants on DISTINCT series
  (user_id offset per variant) — scale grows the series COUNT, the
  partition-parallel dimension, which is how a real fleet grows (more
  devices, not deeper single-device history).

Results land in STRESS_r04.json at the repo root. Usage:

    python tools/stress_sf1.py [--skip-gen]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STRESS_DIR = "/tmp/spark_graft_sf1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "STRESS_r08.json")
SRC = "/root/testdata/sf0.1"
FANOUT = 10


def generate() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(STRESS_DIR, exist_ok=True)

    docs = pq.read_table(f"{SRC}/documents.parquet").to_pydict()
    n = len(docs["doc_id"])
    out = {k: [] for k in docs}
    for i in range(n):
        words = docs["text"][i].split(" ")
        for v in range(FANOUT):
            rot = words if v == 0 else (
                words[v:] + words[:v])[: max(1, len(words) - v)]
            text = " ".join(rot)
            out["doc_id"].append(docs["doc_id"][i] * FANOUT + v)
            out["text"].append(text)
            out["lang"].append(docs["lang"][i])
            out["source"].append(docs["source"][i])
            out["n_chars"].append(len(text))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(out["doc_id"], pa.int64()),
                "text": pa.array(out["text"], pa.string()),
                "lang": pa.array(out["lang"], pa.string()),
                "source": pa.array(out["source"], pa.string()),
                "n_chars": pa.array(out["n_chars"], pa.int64()),
            }
        ),
        f"{STRESS_DIR}/documents.parquet",
    )

    emb = pq.read_table(f"{SRC}/embeddings.parquet").to_pydict()
    vecs = np.array(emb["embedding"], dtype=np.float32)
    m, d = vecs.shape
    ids, labels, rows = [], [], []
    rng = np.random.default_rng(42)  # deterministic: seeded once
    noise = rng.normal(0.0, 0.02, size=(FANOUT, d)).astype(np.float32)
    for v in range(FANOUT):
        ids.extend(int(x) * FANOUT + v for x in emb["vec_id"])
        labels.extend(emb["label"])
        rows.append(vecs if v == 0 else vecs + noise[v])
    allv = np.concatenate(rows, axis=0)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(allv), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{STRESS_DIR}/embeddings.parquet",
    )
    ev = pq.read_table(f"{SRC}/events.parquet")
    n_ev = ev.num_rows
    parts = []
    for v in range(FANOUT):
        t = pa.table(
            {
                "event_id": pa.compute.add(
                    pa.compute.multiply(ev["event_id"], FANOUT), v
                ),
                "ts": ev["ts"],
                "user_id": pa.compute.add(ev["user_id"], v * 100000),
                "event_type": ev["event_type"],
                "value": ev["value"],
                "props": ev["props"],
            }
        )
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), f"{STRESS_DIR}/events.parquet")
    print(
        f"generated {len(out['doc_id'])} docs, {len(ids)} vectors, "
        f"{n_ev * FANOUT} events"
    )


def main() -> int:
    if "--skip-gen" not in sys.argv:
        generate()

    from mqtt_influx_storage_service_spark.operators import all_queries
    from mqtt_influx_storage_service_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        lsh_hot_buckets,
    )
    from mqtt_influx_storage_service_spark.session import get_spark

    spark = get_spark("stress_sf1")
    qs = all_queries()
    results: dict = {"scale": "synthetic sf1.0 (10x sf0.1)", "timings": {}}
    for name in ("dedup_minhash_lsh", "dedup_components",
                 "sim_threshold_pairs",
                 # r4 embedding-tier rebuild: GEMM-masked kNN graph
                 # (exercises the >4-tile global gemm prune), GEMM
                 # threshold dedup, driver-trained IVF/IVF-PQ
                 "sim_knn_graph", "dedup_embedding_cosine",
                 "sim_ann_ivf", "sim_ann_ivf_pq",
                 # r7: the gated SemDeDup entry — 20k vectors is above
                 # GEMM_EXACT_MAX, so this times the IVF routing (one
                 # corpus pass; the exact path's 6-scan re-derivation
                 # is gone behind the gate + campaign cache)
                 "dedup_semantic",
                 # series-count scaling (10x the series, same depth)
                 "ts_bucket_agg", "ts_holt_winters", "ts_seasonal_profile",
                 "ts_counter_rate", "ts_cumulative_sum",
                 # linear single-scan curation gates
                 "text_gopher_rules", "pipeline_quality_gate",
                 # late-r7: per-domain percentile prune — one window
                 # shuffle keyed by source over the 10x corpus
                 "pipeline_quality_prune",
                 # DSIR weights at 10x: the unigram+bigram explode is
                 # ~2x corpus tokens; both downstream shuffles are
                 # word-count shaped, the model stays 4096 rows
                 "text_dsir_importance",
                 # InfluxQL compiler at 10x the series count, plus the
                 # line-protocol roundtrip (pure codegen projection)
                 "iq_mean_by_day", "iq_fill_previous",
                 "iq_percentile_weekly", "ref_line_protocol",
                 # MMR re-rank over a 10x corpus (pool stays capped)
                 "sim_mmr",
                 # epoch allocator rides the curated-survivors subtree
                 # at 10x (NEEDS the still-warm label caches — keep it
                 # before the release point below); passage dedup is two
                 # word-count-shaped shuffles over 10x blocks
                 "pipeline_epochs", "dedup_passage",
                 # stride-1 rolling-window substring dedup: ~n_tokens
                 # exploded rows per doc; the rotated variants share
                 # long spans, the adversarial case for run detection
                 "dedup_substring",
                 # late-r7: the span-REMOVAL pass on top of the span
                 # plan (per-doc collect + LEFT join + codegen cut);
                 # the rotated variants make spans dense — adversarial
                 # for the per-doc span lists
                 "dedup_substring_scrub",
                 # retrieval tier LAST, after the cache release: BM25's
                 # bounded 50-query set scored against a 10x corpus
                 # (the unbounded stride-grown set measured 40 s here
                 # and was capped — see SCALE.md); RRF fuses two 10x
                 # retriever pools
                 "text_bm25", "sim_hybrid_rrf"):
        if name == "text_bm25":
            # the dedup/similarity tier's persisted caches (50k-doc
            # shingle arrays, MMR pools) otherwise squeeze storage
            # memory under the retrieval tier and the timings measure
            # eviction/spill, not the plan (text_bm25 swung 9 s ↔ 23 s
            # run-to-run before this release point)
            from mqtt_influx_storage_service_spark.cache import release

            release(spark)
        t0 = time.time()
        try:
            qs[name](spark, STRESS_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            results["timings"][name] = round(time.time() - t0, 2)
        except Exception as exc:  # noqa: BLE001 - record, keep going
            results["timings"][name] = None
            results.setdefault("errors", {})[name] = str(exc)[:500]
        print(name, results["timings"][name], flush=True)

    # Skew pass: one pathological series holding ~half of all events —
    # the hot-key hazard for per-series windows. Re-key half the
    # synthesized events onto user_id 0 / 'click' and re-time the
    # window-shaped queries: survivable means they complete within a
    # small multiple of the balanced run (AQE can't split a single
    # window partition, so this measures the single-hot-task floor).
    import pyarrow as pa
    import pyarrow.parquet as pq

    skew_dir = os.path.join(STRESS_DIR, "skewed")
    os.makedirs(skew_dir, exist_ok=True)
    ev = pq.read_table(f"{STRESS_DIR}/events.parquet")
    n = ev.num_rows
    half = pa.array([i % 2 == 0 for i in range(n)], pa.bool_())
    import pyarrow.compute as pc
    uid = pc.if_else(half, pa.scalar(0, pa.int64()), ev["user_id"].combine_chunks())
    et = pc.if_else(half, pa.scalar("click", pa.string()),
                    ev["event_type"].combine_chunks())
    pq.write_table(
        pa.table({
            "event_id": ev["event_id"], "ts": ev["ts"], "user_id": uid,
            "event_type": et, "value": ev["value"], "props": ev["props"],
        }),
        f"{skew_dir}/events.parquet",
    )
    results["skew"] = {}
    # r8: the exact skew-safe twins ride next to the plain forms so the
    # artifact shows the hot-task floor removed (VERDICT r7 #5);
    # ts_holt_winters itself is salted two-phase since r8.
    for name in ("ts_cumulative_sum", "ts_cumulative_sum_chunked",
                 "ts_holt_winters", "ts_percentile",
                 "ts_percentile_twophase"):
        t0 = time.time()
        try:
            qs[name](spark, skew_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            results["skew"][name] = round(time.time() - t0, 2)
        except Exception as exc:  # noqa: BLE001
            results["skew"][name] = None
            results.setdefault("errors", {})[f"skew:{name}"] = str(exc)[:500]
        print("skew", name, results["skew"][name], flush=True)

    # Skewed-DOMAIN pass (VERDICT r7 #4): one mega-source holding ~90%
    # of all documents — the hazard for pipeline_quality_prune's exact
    # per-domain rank window (one task sorts the mega-domain). The
    # approx twin's cutoff is a mergeable sketch aggregate, so its time
    # should stay near the balanced run while the exact form shows the
    # hot-task floor. Reuses the already-generated 10x documents with
    # sources re-keyed in place.
    skewdoc_dir = os.path.join(STRESS_DIR, "skewed_docs")
    os.makedirs(skewdoc_dir, exist_ok=True)
    dt = pq.read_table(f"{STRESS_DIR}/documents.parquet")
    nd = dt.num_rows
    mega = pa.array([i % 10 != 0 for i in range(nd)], pa.bool_())
    src_col = pc.if_else(
        mega, pa.scalar("common_crawl", pa.string()),
        dt["source"].combine_chunks(),
    )
    pq.write_table(
        pa.table({
            "doc_id": dt["doc_id"], "text": dt["text"], "lang": dt["lang"],
            "source": src_col, "n_chars": dt["n_chars"],
        }),
        f"{skewdoc_dir}/documents.parquet",
    )
    results["skew_docs"] = {}
    for name in ("pipeline_quality_prune", "pipeline_quality_prune_approx"):
        for tag, d in (("balanced", STRESS_DIR), ("skewed", skewdoc_dir)):
            t0 = time.time()
            try:
                qs[name](spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                results["skew_docs"][f"{name}:{tag}"] = round(
                    time.time() - t0, 2
                )
            except Exception as exc:  # noqa: BLE001
                results["skew_docs"][f"{name}:{tag}"] = None
                results.setdefault("errors", {})[
                    f"skew_docs:{name}:{tag}"
                ] = str(exc)[:500]
            print("skew_docs", name, tag,
                  results["skew_docs"][f"{name}:{tag}"], flush=True)

    hot = sorted(
        lsh_hot_buckets(spark, STRESS_DIR).collect(),
        key=lambda r: -r["n_members"],
    )
    results["lsh_hot_buckets"] = {
        "cap": LSH_BUCKET_CAP,
        "n_over_cap": len(hot),
        "worst": [
            {"band_idx": r["band_idx"], "n_members": r["n_members"]}
            for r in hot[:10]
        ],
    }
    # IVF-list work audit (VERDICT r4 #2): at this scale (20k vectors >
    # GEMM_EXACT_MAX) the embedding-pair family runs within coarse
    # lists; record Σ list² / n² — the compute bound of the within-list
    # GEMM relative to the exact all-pairs plan. The ratio shrinks
    # linearly as n grows at fixed IVF_TARGET_LIST (work ∝ p²·L·n, not
    # n²), so even a modest ratio here certifies the structure.
    from mqtt_influx_storage_service_spark.operators import similarity as S
    from mqtt_influx_storage_service_spark.sources import load_table
    from mqtt_influx_storage_service_spark.sources.tables import table_row_count

    emb = load_table(spark, STRESS_DIR, "embeddings", rebalance=True)
    n_vec = table_row_count(STRESS_DIR, "embeddings")
    sizes = [
        r["cnt"]
        for r in S._ivf_assigned(emb, n_vec, S.IVF_PAIR_PROBES)
        .groupBy("lst")
        .agg({"*": "count"})
        .withColumnRenamed("count(1)", "cnt")
        .collect()
    ]
    results["ivf_pair_audit"] = {
        "gate": S.GEMM_EXACT_MAX,
        "n_vectors": n_vec,
        "ivf_path_engaged": n_vec > S.GEMM_EXACT_MAX,
        "n_lists": len(sizes),
        "probes": S.IVF_PAIR_PROBES,
        "max_list": max(sizes) if sizes else 0,
        "sum_sq_over_n_sq": round(
            sum(s * s for s in sizes) / float(n_vec) ** 2, 4
        ),
    }

    # merge with any sibling stress results already recorded this round
    # (e.g. tools/stress_semdedup.py's semdedup_100k audit)
    if os.path.exists(OUT):
        with open(OUT) as fh:
            prior = json.load(fh)
        prior.update(results)
        results = prior
    with open(OUT, "w") as fh:
        json.dump(results, fh, indent=2)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
