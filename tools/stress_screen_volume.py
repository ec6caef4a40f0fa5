"""r9: the at-ingest near-dup screen at volume — gate a 50k-doc crawl
batch against a 500k-doc indexed corpus.

This is the operation a 100 TB curation pipeline runs on every
incoming batch (streaming/screen.py wires it into foreachBatch); the
registered fixture-scale query proves correctness, this measures the
volume shape: corpus index built once per campaign (shingles + banded
band keys, persisted), then the batch's band keys BROADCAST against
the corpus index — the corpus is probed, never reshuffled — and exact
verify on the hashed shingle arrays for collision-bounded candidates.

Records (STRESS_r09.json "screen_at_volume"): index build wall (the
once-per-campaign cost), per-batch screen wall, candidate count, hit
count. Uses the stress_100x corpora (f100 = corpus, f10 = batch: the
f10 docs are near-dup variants of the same source docs, so the screen
must light up — a zero-hit run would mean the index path is broken).

Usage: python tools/stress_screen_volume.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/spark_graft_100x"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "STRESS_r09.json")


def main() -> int:
    from mqtt_influx_storage_service_spark.operators.dedup import (
        _doc_shingles, _minhash_banded, near_dup_screen)
    from mqtt_influx_storage_service_spark.cache import release
    from mqtt_influx_storage_service_spark.session import get_spark
    from mqtt_influx_storage_service_spark.sources import load_table

    spark = get_spark("stress_screen")
    corpus, batch_dir = f"{BASE}/f100", f"{BASE}/f10"
    if not (os.path.isdir(corpus) and os.path.isdir(batch_dir)):
        print("run tools/stress_100x.py first")
        return 1

    t0 = time.time()
    corpus_sh = _doc_shingles(spark, corpus)
    corpus_sh.count()  # materialize the persisted campaign index
    banded = _minhash_banded(spark, corpus)
    banded.persist().count()
    t_index = time.time() - t0

    batch = (
        load_table(spark, batch_dir, "documents", rebalance=True)
        .select("doc_id", "text")
    )
    n_batch = batch.count()
    t0 = time.time()
    hits = near_dup_screen(batch, corpus_sh, banded)
    n_hits = hits.count()
    t_screen = time.time() - t0
    flagged_docs = hits.select("new_doc_id").distinct().count()

    row = {
        "corpus_docs": 500000,
        "batch_docs": n_batch,
        "index_build_sec": round(t_index, 1),
        "screen_sec": round(t_screen, 1),
        "hit_pairs": n_hits,
        "batch_docs_flagged": flagged_docs,
        "note": ("batch band keys broadcast against the persisted corpus "
                 "band index; exact verify on hashed shingle arrays. The "
                 "f10 batch is near-dup variants of the f100 corpus's "
                 "source docs, so a healthy screen flags most of it."),
    }
    release(spark)
    banded.unpersist()

    results = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            results = json.load(fh)
    results["screen_at_volume"] = row
    with open(OUT, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(json.dumps(row, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
