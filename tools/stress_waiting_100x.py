"""100x fact-table probe for the r14 window rewrite of
rel_waiting_supplier (VERDICT r14 "Next round" #9).

The r14 rewrite replaced the per-order groupBy + join-back (two fact
scans, two fact shuffles, one Expand) with two collect_set().size
window aggregates over the SAME order-keyed exchange the plan already
pays (guide §2.4). That is a win iff the window's per-group state —
the distinct-supplier sets — stays bounded; TPC-H order shape bounds
suppliers-per-order (sf0.1 max 7 lineitems/order), and growing a real
fact grows the ORDER COUNT, not the per-order line count. This probe
measures exactly that growth: lineitem/orders replicated SCALE times
by order-key offset (per-order distribution byte-identical to sf0.1,
order count x SCALE), then the window form (the registry query) vs the
r13 groupBy form A/B'd on the same session, under the shared
regimestamp gate, with per-stage spill / peak execution memory pulled
from the status-store REST API.

Results land in STRESS_r15.json under "waiting_supplier_100x". Usage:

    python tools/stress_waiting_100x.py [--scale 100] [--skip-gen]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/spark_graft_waiting_100x"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "STRESS_r15.json")
SRC = "/root/testdata/sf0.1"


def gen(scale: int, out_dir: str) -> None:
    """Replicate lineitem/orders ``scale`` times with offset order keys
    (supplier keys unchanged — the fleet grows orders, not suppliers);
    only the columns the Q21 shape reads are written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    orders = pq.read_table(
        f"{SRC}/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_orderdate"],
    )
    li = pq.read_table(
        f"{SRC}/lineitem.parquet",
        columns=["l_orderkey", "l_suppkey", "l_shipdate"],
    )
    offset = pa.compute.max(orders["o_orderkey"]).as_py() + 1

    with pq.ParquetWriter(
        f"{out_dir}/orders.parquet", orders.schema
    ) as w:
        for k in range(scale):
            w.write_table(orders.set_column(
                0, "o_orderkey",
                pa.compute.add(orders["o_orderkey"], k * offset)))
    with pq.ParquetWriter(
        f"{out_dir}/lineitem.parquet", li.schema
    ) as w:
        for k in range(scale):
            w.write_table(li.set_column(
                0, "l_orderkey",
                pa.compute.add(li["l_orderkey"], k * offset)))
    pq.write_table(
        pq.read_table(f"{SRC}/supplier.parquet"),
        f"{out_dir}/supplier.parquet",
    )


def _groupby_form(spark, sf_dir: str):
    """The r13 (pre-window) formulation, verbatim from
    git a5b5c5c~1 relational.py — the A/B counterfactual."""
    from pyspark.sql import functions as F

    from mqtt_influx_storage_service_spark.operators.relational import (
        LATE_DAYS,
    )
    from mqtt_influx_storage_service_spark.sources import load_table

    lateness = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {LATE_DAYS} DAYS"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).withColumn("late", lateness)
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    waiting = (
        l.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") % 5 == 2
    )
    return (
        waiting.join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            waiting.l_suppkey == supp.s_suppkey,
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _stage_metrics(base: str, seen: set) -> dict:
    """Aggregate spill / shuffle / peak-memory over stages not yet
    seen; marks them seen."""
    rows = _get(f"{base}/stages?status=complete")
    agg = {"spill_disk_bytes": 0, "spill_mem_bytes": 0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "input_bytes": 0, "peak_execution_memory_max_task": 0,
           "n_stages": 0}
    for s in rows:
        key = (s["stageId"], s["attemptId"])
        if key in seen:
            continue
        seen.add(key)
        agg["n_stages"] += 1
        agg["spill_disk_bytes"] += s.get("diskBytesSpilled") or 0
        agg["spill_mem_bytes"] += s.get("memoryBytesSpilled") or 0
        agg["shuffle_write_bytes"] += s.get("shuffleWriteBytes") or 0
        agg["shuffle_read_bytes"] += s.get("shuffleReadBytes") or 0
        agg["input_bytes"] += s.get("inputBytes") or 0
        agg["peak_execution_memory_max_task"] = max(
            agg["peak_execution_memory_max_task"],
            s.get("peakExecutionMemory") or 0,
        )
    return agg


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=100)
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--mem", default="8g")
    args = ap.parse_args()

    data_dir = f"{BASE}/s{args.scale}"
    if not args.skip_gen or not os.path.isdir(data_dir):
        t0 = time.time()
        gen(args.scale, data_dir)
        print(f"gen({args.scale}) took {time.time() - t0:.1f}s",
              file=sys.stderr)

    from pyspark.sql import SparkSession

    from mqtt_influx_storage_service_spark.operators import all_queries
    from mqtt_influx_storage_service_spark.session import tune
    from tools import regimestamp

    spark = tune(
        SparkSession.builder.master("local[32]")
        .appName("waiting-100x")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedStages", "20000")
        .config("spark.driver.memory", args.mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    base = f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}"

    qs = all_queries()
    forms = {
        "window_r14": lambda: qs["rel_waiting_supplier"](spark, data_dir),
        "groupby_r13": lambda: _groupby_form(spark, data_dir),
    }
    seen: set = set()

    def run_all() -> dict:
        out: dict = {}
        for name, build in forms.items():
            _stage_metrics(base, seen)  # absorb prior tail
            walls = []
            metrics = None
            for rep in range(args.reps):
                spark.sparkContext.setJobDescription(
                    f"waiting100x:{name}:rep{rep}")
                t0 = time.time()
                build().write.format("noop").mode("overwrite").save()
                walls.append(round(time.time() - t0, 3))
                metrics = _stage_metrics(base, seen)  # per-rep stages
            spark.sparkContext.setJobDescription(None)
            out[name] = {"walls": walls, "min_wall": min(walls),
                         "last_rep_stage_metrics": metrics}
            print(name, out[name], file=sys.stderr)
        # row-parity: both forms must agree at this scale too
        a = qs["rel_waiting_supplier"](spark, data_dir)
        b = _groupby_form(spark, data_dir)
        mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
        out["forms_row_mismatch"] = mismatch
        return out

    gated = regimestamp.gated(spark, run_all)
    row = {
        "scale": args.scale,
        "orders_rows": 150000 * args.scale,
        "lineitem_rows": 600000 * args.scale,
        "reps": args.reps,
        "heap": args.mem,
        "gate": regimestamp.regime(gated),
        **gated["result"],
    }
    try:
        existing = json.load(open(OUT))
    except Exception:  # noqa: BLE001 - first writer creates the file
        existing = {}
    existing["waiting_supplier_100x"] = row
    with open(OUT, "w") as fh:
        json.dump(existing, fh, indent=1)
        fh.write("\n")
    print(json.dumps(row, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
