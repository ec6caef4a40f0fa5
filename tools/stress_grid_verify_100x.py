"""r13: grid-verify shuffle accounting at the 100x corpus (VERDICT r12
#4 — "cut the dedup-family 100x shuffle volume").

r12's skew census measured dedup_ngram_jaccard at 9.05 GB and
dedup_containment at 8.97 GB shuffle (dedup_components 9.51 GB) against
2.5-4.3 GB input at 500k docs. The stage-level breakdown (this round)
attributed ~69% of it to ONE exchange: the per-pair verify ships both
docs' shingle arrays once per candidate pair (55.8M candidates = 112
pairs/doc on this near-duplicate-saturated corpus), so the pairs+sh_a
intermediate re-shuffles fat by doc_b — 6.2 GB. VERDICT's stated
premise ("doc-ids shuffle as strings") was wrong — doc_id is int64
everywhere — but the headroom was real and lived one join over.

The fix (operators/dedup.py::_verify_joined): above VERIFY_GRID_GATE
docs the candidate set is persisted+counted (campaign idiom), and at
measured multiplicity >= VERIFY_GRID_MIN_MULT the verify switches to a
GRID plan — pairs partitioned once by (hash(doc_a)%B, hash(doc_b)%B),
each doc's array replicated to B cells per side, both joins running
exchange-free on the subset co-partitioning (session.tune() sets
spark.sql.requireAllClusterKeysForCoPartition=false). Arrays ship
B=8 per DOC instead of 112 per PAIR; at realistic low multiplicity
the per-pair plan is kept (grid would pay 2B× corpus there) — the
plan choice is measured, not assumed.

Protocol matches skew_census_100x_r12: one session, queries run
sequentially WITHOUT cache release (campaign sharing between the
jaccard and containment candidate stages is part of the design), io
summed census-style over each query's stages. The first query
(dedup_ngram_jaccard) therefore carries the full standalone cost and
is the apples-to-apples before/after row.

r14 (VERDICT r13 #1): the family runs inside tools/regimestamp.gated —
the shared fixed-work canary brackets every attempt, the window retries
while drifted (> 15%) or degraded-band, and EVERY attempt's stamps land
in the artifact. r13's wall claim was min-of-runs across a visibly
degrading box; this records walls only from a certified calm window
(byte metrics were already regime-immune — six byte-identical runs).
Campaign caches are released between attempts so each attempt pays the
full standalone protocol cost.

Results merge into STRESS_r14.json under "grid_verify_100x". Usage:

    python tools/stress_grid_verify_100x.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

D = "/tmp/spark_graft_100x/f100"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "STRESS_r14.json")

# skew_census_100x_r12 io rows (shuffle_write_bytes) — the baseline.
R12 = {
    "dedup_ngram_jaccard": {"sw_gb": 9.05, "wall_sec": 98.48},
    "dedup_containment": {"sw_gb": 8.97, "wall_sec": 99.46},
    "dedup_minhash_lsh": {"sw_gb": 4.33, "wall_sec": 38.02},
    "dedup_components": {"sw_gb": 9.51, "wall_sec": 116.54},
}
ORDER = ["dedup_ngram_jaccard", "dedup_containment",
         "dedup_minhash_lsh", "dedup_components"]


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def main() -> int:
    if not os.path.isdir(D):
        print(f"missing corpus {D}; regenerate with tools/stress_100x.py gen")
        return 1
    from pyspark.sql import SparkSession

    from mqtt_influx_storage_service_spark.cache import release
    from mqtt_influx_storage_service_spark.operators import dedup as DD
    from mqtt_influx_storage_service_spark.session import tune

    spark = tune(
        SparkSession.builder.master("local[32]")
        .appName("stress-grid-verify")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4061")
        .config("spark.ui.retainedStages", "20000")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl or "http://localhost:4061"
    base = f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}"

    seen: set[tuple[int, int]] = set()

    def _drain():
        rows = []
        for s in _get(base, "/stages?status=complete"):
            key = (s["stageId"], s["attemptId"])
            if key not in seen:
                seen.add(key)
                rows.append(s)
        return rows

    from tools import regimestamp as RS

    def run_family() -> dict:
        # cold campaign state per attempt: each attempt pays the full
        # standalone protocol cost (cache sharing WITHIN the attempt
        # stays, as in the census protocol)
        release(spark)
        sec: dict = {
            "corpus": f"{D} (500k docs)",
            "protocol": "census protocol (one session, sequential, "
                        "shared campaign caches, io summed per query) — "
                        "comparable to skew_census_100x_r12; first query "
                        "is standalone; caches released between gate "
                        "attempts",
            "grid": {"B": DD.VERIFY_GRID_B,
                     "gate_docs": DD.VERIFY_GRID_GATE,
                     "min_multiplicity": DD.VERIFY_GRID_MIN_MULT},
            "queries": {},
        }
        for name in ORDER:
            _drain()
            fn = getattr(DD, name)
            spark.sparkContext.setJobDescription(f"grid100x:{name}")
            t0 = time.time()
            fn(spark, D).write.format("noop").mode("overwrite").save()
            wall = round(time.time() - t0, 2)
            spark.sparkContext.setJobDescription(None)
            time.sleep(4)
            raw = _drain()
            sw = sum(s.get("shuffleWriteBytes") or 0 for s in raw)
            row = {
                "wall_sec": wall,
                "shuffle_write_gb": round(sw / 1e9, 2),
                "r12_shuffle_write_gb": R12[name]["sw_gb"],
                "r12_wall_sec": R12[name]["wall_sec"],
                "reduction_pct": round(
                    100 * (1 - sw / 1e9 / R12[name]["sw_gb"]), 1
                ),
            }
            sec["queries"][name] = row
            print(f"{name}: {row}", flush=True)

        tot = sum(q["shuffle_write_gb"] for q in sec["queries"].values())
        tot12 = sum(v["sw_gb"] for v in R12.values())
        sec["family_total_gb"] = round(tot, 2)
        sec["family_total_r12_gb"] = round(tot12, 2)
        sec["family_reduction_pct"] = round(100 * (1 - tot / tot12), 1)
        sec["family_wall_sec"] = round(
            sum(q["wall_sec"] for q in sec["queries"].values()), 2
        )
        sec["family_wall_r12_sec"] = round(
            sum(v["wall_sec"] for v in R12.values()), 2
        )
        return sec

    gate = RS.gated(spark, run_family)
    section = gate["result"]
    section["regime"] = {
        **RS.regime(gate),
        "note": "walls published only from the gated window; r13's "
                "claim was min-of-runs on a degrading box "
                "(wall_history_note, STRESS_r13)",
    }

    doc = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            doc = json.load(fh)
    doc["grid_verify_100x"] = section
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=2)
    print(json.dumps(section, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
