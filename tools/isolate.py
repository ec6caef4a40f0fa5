"""Time a named subset of registry queries one at a time with bench.py's
cold rep (``regimestamp.rep``), splitting CONSTRUCTION (Python plan
building) from EXECUTION wall. ``--cold`` also drops the whole campaign
cache before every rep (bench keeps the shared dedup-family caches
warm). ``--plans DIR`` writes each query's ``explain("formatted")`` to
DIR/<query>.txt. ``--gated`` runs the set inside ``regimestamp.gated``
(gated on canary drift only, like bench.py) and prints the
canary-stamped row. One line per query goes to stderr,
the JSON result to stdout.

Usage: python tools/isolate.py QUERY... [--reps N] [--cold] [--sf DIR]
                               [--plans DIR] [--gated]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ)
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--gated", action="store_true")
    args = ap.parse_args()

    from mqtt_influx_storage_service_spark import cache
    from mqtt_influx_storage_service_spark.operators import JVM_WARMUP, all_queries
    from mqtt_influx_storage_service_spark.session import get_spark
    from tools import regimestamp

    qs = all_queries()
    if unknown := [n for n in args.queries if n not in qs]:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("isolate")
    for warm in JVM_WARMUP:
        qs[warm](spark, args.sf).write.format("noop").mode("overwrite").save()

    def cold_rep(name: str) -> tuple[float, float]:
        if args.cold:
            cache.release(spark)
        return regimestamp.rep(spark, qs, name, args.sf)

    def run_all() -> dict:
        out: dict[str, dict] = {}
        for name in args.queries:
            times = [cold_rep(name) for _ in range(args.reps)]
            out[name] = {
                "construct_sec": [round(c, 3) for c, _ in times],
                "exec_sec": [round(e, 3) for _, e in times],
                "total_min": round(min(c + e for c, e in times), 3),
            }
            print(f"{name}: construct={out[name]['construct_sec']} "
                  f"exec={out[name]['exec_sec']}", file=sys.stderr)
        return out

    if args.gated:
        # gate on drift alone, as bench.py does: this tool runs at
        # SPARK_GRAFT_CPUS, and the canary bands were calibrated on the
        # 32-core box, so at other core counts they judge host load,
        # not the window; the bands stay published in the stamps
        gate = regimestamp.gated(spark, run_all, require_calm=False)
        row = {"reps": args.reps, **regimestamp.regime(gate),
               "timings": gate["result"]}
    else:
        row = run_all()

    if args.plans:
        # rebuilt after the timed reps in rep 0's cache state
        os.makedirs(args.plans, exist_ok=True)
        for name in args.queries:
            if args.cold:
                cache.release(spark)
            cache.release_for(spark, name)
            path = os.path.join(args.plans, f"{name}.txt")
            with open(path, "w") as fh, redirect_stdout(fh):
                qs[name](spark, args.sf).explain("formatted")

    print(json.dumps(row, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
