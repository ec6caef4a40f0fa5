"""Round-15 isolation harness: time a named subset of registry queries
one at a time (noop sink, guide §1.4), splitting CONSTRUCTION (Python
plan-building) from EXECUTION wall, and dump .explain('formatted') to
plans/r15/<query>_<tag>.txt so plan claims are checkable offline.

Same protocol as tools/isolate_r14.py; each rep releases the query's
declared cold tags (``cache.release_for``), exactly as bench.py does.

Usage: python tools/isolate_r15.py [--tag before|after] [--reps N]
                                   [--no-plans] query [query ...]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

PLANS_DIR = "/root/repo/plans/r15"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from mqtt_influx_storage_service_spark.cache import release, release_for
    from mqtt_influx_storage_service_spark.operators import all_queries
    from mqtt_influx_storage_service_spark.session import get_spark

    spark = get_spark("isolate_r15")
    qs = all_queries()
    os.makedirs(PLANS_DIR, exist_ok=True)

    # one cheap warm query for JVM/codegen first-touch
    qs["rel_pricing_summary"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, dict] = {}
    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        cons, execs = [], []
        for rep in range(args.reps):
            # bench's per-query cold discipline; --cold drops the whole
            # campaign cache (bench keeps the shared dedup caches warm)
            if args.cold:
                release(spark)
            else:
                release_for(spark, name)
            spark.sparkContext.setJobDescription(f"iso:{name}:rep{rep}")
            t0 = time.time()
            df = qs[name](spark, args.sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            cons.append(t1 - t0)
            execs.append(t2 - t1)
            if rep == 0 and not args.no_plans:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(
                    os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w"
                ) as fh:
                    fh.write(buf.getvalue())
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "construct_sec": [round(c, 3) for c in cons],
            "exec_sec": [round(e, 3) for e in execs],
            "total_min": round(min(c + e for c, e in zip(cons, execs)), 3),
        }
        print(f"{name}: construct={out[name]['construct_sec']} "
              f"exec={out[name]['exec_sec']}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
