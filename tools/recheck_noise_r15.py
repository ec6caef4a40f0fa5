"""Re-measure the r14 'untouched but >10% regressed' queries in ONE
gated calm window (VERDICT r14 "Next round" #4): rel_merge_join,
ts_mad_outliers, ts_ewma, rel_grouping_sets regressed in BENCH_r14
despite a FASTER box and unchanged plans — expected cold-JVM noise,
but the verdict wants a measured adjudication. A few additional
baseline-r15 movers ride the same window.

Bench-equivalent protocol: warm-up query, then per query min-of-N
noop-sink reps inside tools/regimestamp.gated. Results land in
STRESS_r15.json under "noise_regressions_recheck".

Usage: python tools/recheck_noise_r15.py [--reps 4] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "STRESS_r15.json")

DEFAULT = [
    # the four VERDICT #4 entries, with their r13 / r14 bench floors
    "rel_merge_join",       # 0.482 -> 0.594
    "ts_mad_outliers",      # 0.59  -> 0.71
    "ts_ewma",              # 0.45  -> 0.53
    "rel_grouping_sets",    # 0.28  -> 0.32
    # r15-baseline movers vs the r14 committed detail (same shape:
    # untouched plans, sub-1.5 s walls)
    "text_boilerplate",     # 0.735 -> 1.255 in the r15 baseline
    "dedup_minhash_lsh",    # 0.883 -> 1.208
    "sim_centroid_assign",  # 0.653 -> 1.017
    "pipeline_dsir_resample",  # 0.907 -> 1.362
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = args.queries or DEFAULT

    from mqtt_influx_storage_service_spark.cache import release_for
    from mqtt_influx_storage_service_spark.operators import all_queries
    from mqtt_influx_storage_service_spark.session import get_spark
    from tools import regimestamp

    spark = get_spark("recheck_noise_r15")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    qs["rel_pricing_summary"](spark, args.sf).write.format("noop").mode(
        "overwrite").save()

    def run_all() -> dict:
        out: dict = {}
        for name in names:
            reps = []
            for rep in range(args.reps):
                release_for(spark, name)
                spark.sparkContext.setJobDescription(f"recheck:{name}:{rep}")
                t0 = time.time()
                qs[name](spark, args.sf).write.format("noop").mode(
                    "overwrite").save()
                reps.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = {"reps": reps, "min": min(reps)}
            print(name, out[name], file=sys.stderr)
        return out

    gated = regimestamp.gated(spark, run_all)
    row = {
        "reps": args.reps,
        "gate": {
            "passed": gated["passed"],
            "attempts": [
                {"drift_pct": a["drift_pct"], "calm": a["calm"],
                 "start_band": a["start"]["band"],
                 "end_band": a["end"]["band"],
                 "start_sec": a["start"]["canary_sec"],
                 "end_sec": a["end"]["canary_sec"]}
                for a in gated["attempts"]
            ],
        },
        "timings": gated["result"],
    }
    try:
        existing = json.load(open(OUT))
    except Exception:  # noqa: BLE001 - first writer creates the file
        existing = {}
    existing["noise_regressions_recheck"] = row
    with open(OUT, "w") as fh:
        json.dump(existing, fh, indent=1)
        fh.write("\n")
    print(json.dumps(row, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
