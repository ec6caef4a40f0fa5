"""r14: the grid verify at a SECOND derived B (VERDICT r13 #5).

The b-derivation (operators/dedup.py::_verify_joined) doubles the
replication factor with the session's shuffle parallelism up to
VERIFY_GRID_B_MAX, and scales the engagement gate with it
(MIN_MULT * b / 8) — but through r13 only b=8 had ever been measured;
the replication-vs-cells tradeoff and the scaled gate were asserted.
This tool measures both on the 100x corpus (500k docs), inside the
shared regimestamp gate so the walls are calm-window walls:

- phase A (`gate_check`): spark.sql.shuffle.partitions=128 derives
  b=16, so the gate becomes 128 pairs/doc — ABOVE this corpus's
  measured multiplicity (~112). The grid must DECLINE and keep the
  per-pair plan (ADVICE r13 #2's conf-dependence, observed rather
  than argued). Side product: a calm-window per-pair wall for
  dedup_ngram_jaccard on the same box/corpus as the r14 b=8 grid row
  — the A/B the r13 artifact never had.
- phase B (`forced`): VERIFY_GRID_MIN_MULT is overridden to 48 FOR
  THE MEASUREMENT ONLY (48*16/8 = 96 <= 112, so the grid engages at
  b=16); jaccard + containment record shuffle bytes and walls vs the
  b=8 rows from grid_verify_100x.

Shipped behavior is untouched — the override lives in this tool.
Results merge into STRESS_r14.json under "grid_b16_100x". Usage:

    python tools/stress_grid_b16_100x.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

D = "/tmp/spark_graft_100x/f100"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "STRESS_r14.json")


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def main() -> int:
    if not os.path.isdir(D):
        print(f"missing corpus {D}; regenerate with tools/stress_100x.py gen")
        return 1
    from pyspark.sql import SparkSession

    from mqtt_influx_storage_service_spark import cache, plans
    from mqtt_influx_storage_service_spark.operators import dedup as DD
    from mqtt_influx_storage_service_spark.session import tune
    from tools import regimestamp as RS

    spark = tune(
        SparkSession.builder.master("local[32]")
        .appName("stress-grid-b16")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4062")
        .config("spark.ui.retainedStages", "20000")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl or "http://localhost:4062"
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

    def _run(name: str) -> dict:
        _drain()
        # construction INSIDE the timed region, matching
        # stress_grid_verify_100x so the b=8/b=16/per-pair walls are
        # one methodology
        spark.sparkContext.setJobDescription(f"grid_b16:{name}")
        t0 = time.time()
        df = getattr(DD, name)(spark, D)
        df.write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 2)
        # the grid's shuffle column is _cell since the r14 placement
        # fix (_ca/_cb before it); the bare-substring probe
        # false-positives on under_cap#N, so anchor on the column ref
        grid_engaged = bool(
            re.search(r"(?<![0-9A-Za-z_])_c(?:ell|a)#\d", plans.plan_str(df))
        )
        spark.sparkContext.setJobDescription(None)
        time.sleep(4)
        sw = sum(s.get("shuffleWriteBytes") or 0 for s in _drain())
        n_pairs = max(
            (v[1] for k, v in cache._ENTRIES.items() if k[1] == "candidates"),
            default=None,
        )
        return {
            "wall_sec": wall,
            "shuffle_write_gb": round(sw / 1e9, 2),
            "grid_engaged": grid_engaged,
            "n_pairs": n_pairs,
            "multiplicity": round(n_pairs / 500_000, 1) if n_pairs else None,
        }

    def gate_check() -> dict:
        cache.release(spark)
        return {"dedup_ngram_jaccard": _run("dedup_ngram_jaccard")}

    def perpair_default() -> dict:
        cache.release(spark)
        out = {}
        for name in ("dedup_ngram_jaccard", "dedup_containment"):
            out[name] = _run(name)
        return out

    def forced() -> dict:
        cache.release(spark)
        out = {}
        for name in ("dedup_ngram_jaccard", "dedup_containment"):
            out[name] = _run(name)
        return out

    section: dict = {
        "corpus": f"{D} (500k docs)",
        "conf": {"spark.sql.shuffle.partitions": 128, "derived_b": 16,
                 "scaled_gate_mult": DD.VERIFY_GRID_MIN_MULT * 16 // 8},
    }

    def _flush():
        doc = {}
        if os.path.exists(OUT):
            with open(OUT) as fh:
                doc = json.load(fh)
        doc["grid_b16_100x"] = section
        with open(OUT, "w") as fh:
            json.dump(doc, fh, indent=2)

    # b=16 derivation: 16^2 = 256 >= 2*128, 8^2 = 64 < 2*128
    spark.conf.set("spark.sql.shuffle.partitions", "128")

    g = RS.gated(spark, gate_check)
    section["gate_check"] = g["result"]
    section["gate_check_regime"] = RS.regime(g)
    _flush()

    saved = DD.VERIFY_GRID_MIN_MULT
    DD.VERIFY_GRID_MIN_MULT = 48  # measurement-only engagement override
    try:
        f = RS.gated(spark, forced)
    finally:
        DD.VERIFY_GRID_MIN_MULT = saved
    section["forced"] = f["result"]
    section["forced_regime"] = {**RS.regime(f), "min_mult_override": 48}
    _flush()

    # LAST (it can kill the local JVM): the per-pair plan at the
    # DEFAULT conf (32 partitions) — the direct A/B against the b=8
    # grid rows. The first attempt of this phase OOMed the 8 GiB heap
    # (java.lang.OutOfMemoryError in the verify SHJ build) — the exact
    # memory-acquisition failure that made r13 choose the grid; a
    # crash here is therefore a RESULT, not a tooling error, and the
    # phases above have already been flushed to the artifact.
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    saved = DD.VERIFY_GRID_MIN_MULT
    DD.VERIFY_GRID_MIN_MULT = 10**9
    try:
        pp = RS.gated(spark, perpair_default, max_attempts=2)
        section["perpair_default_conf"] = pp["result"]
        section["perpair_default_conf_regime"] = {
            **RS.regime(pp), "min_mult_override": 10**9,
            "note": "per-pair verify, 32 shuffle partitions — "
                    "apples-to-apples against grid_verify_100x's "
                    "b=8 grid rows"}
    except Exception as exc:  # noqa: BLE001 — the OOM IS the datum
        section["perpair_default_conf"] = {
            "error": f"{type(exc).__name__}: {str(exc)[:400]}",
            "note": "per-pair verify at 32 partitions exceeds the "
                    "8 GiB heap on the 100x corpus — the SHJ "
                    "memory failure that motivated the grid"}
    finally:
        DD.VERIFY_GRID_MIN_MULT = saved
    _flush()

    print(json.dumps(section, indent=2))
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — JVM may already be gone
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
