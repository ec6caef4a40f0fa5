"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <float>}

Execution is forced with the built-in `noop` sink (full pipeline runs on
executors, nothing is collected to the driver) so the timings reflect
distributed execution cost, not driver materialization.

Artifact-size contract (VERDICT r4 "Next round" #4): the driver records
only the LAST ~2000 characters of stdout, and the r4 suite's 142-query
JSON overflowed that window, truncating the line's head and leaving
``BENCH_r04.json parsed: null``. So the final stdout line is now kept
under ``_TAIL_BUDGET`` chars — if the full payload fits, it IS the full
payload; otherwise the "queries" dict keeps as many entries as fit
(slowest first, the ones that matter for grading) plus
``queries_omitted``/``queries_file`` pointers — and the COMPLETE
payload is always written to ``BENCH_DETAIL.json`` at the repo root,
which the end-of-round commit preserves. A run at any other core count
than the session default of 32 (``SPARK_GRAFT_CPUS=8``, the low-core
scaling probe) writes ``BENCH_DETAIL_c8.json`` instead, so it never
overwrites the main run's detail; the payload stamps ``cpus``. The
payload also embeds the common-query ratio vs the newest
machine-readable prior round so the round-over-round trend survives
even if per-query detail is elided.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The bench covers the ENTIRE registry (VERDICT r3 "Next round" #6:
# 34/91 benched queries let regressions hide in the other 57). The
# name list is taken from the registry at runtime so a newly
# registered operator is benched automatically; cross-round
# comparisons key on query NAME, so a growing suite stays comparable
# per-query even as the headline total grows.
def headline_names(qs: dict) -> list[str]:
    return list(qs)


# Fixed-work throughput canary (VERDICT r7 "Next round" #2): a
# constant-size, SF-independent JVM-side job (range -> xxhash64 ->
# 1024-bucket hash agg) timed at artifact start AND end. Its wall time
# measures MACHINE throughput, not plan quality, so cross-round query
# ratios can be normalized mechanically (r7 committed a contended
# 1.685x ratio that an idle re-run measured at 1.25x — the canary makes
# that drift visible inside the artifact instead of argued in prose).
# Since r14 the canary job, the box's calibrated band history, the
# attempt gate and the cold rep live in tools/regimestamp.py, SHARED
# with the stress tools, the skew census and tools/isolate.py (VERDICT
# r13 #4) — one definition, cross-comparable stamps.
from tools import regimestamp

from mqtt_influx_storage_service_spark.session import local_cpus


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from mqtt_influx_storage_service_spark.operators import JVM_WARMUP, all_queries
    from mqtt_influx_storage_service_spark.session import get_spark

    spark = get_spark("bench")
    qs = all_queries()

    # Warm the JVM / parquet footer caches once (operators.JVM_WARMUP).
    # A broken warm-up must not kill the whole run (r2 died here with
    # zero timings).
    for warm in JVM_WARMUP:
        try:
            qs[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - warm-up is best-effort
            print(f"bench: warm-up {warm} failed: {exc}", file=sys.stderr)

    # Two timed runs per query, keep the min: the first run includes
    # codegen/Janino compilation (real, but amortized away in any
    # long-lived deployment) and min-of-2 shields the number from
    # noisy-neighbor CPU on shared hardware. One broken query reports
    # null instead of aborting the suite (VERDICT r2 "What's wrong" #2).

    # Contention gate (VERDICT r11 #4): r10 and r11 both shipped
    # artifacts whose in-run canary drift (35.2%, then 66.4%) said the
    # box speed CHANGED under the suite — numbers from a box that is
    # speeding up or slowing down mid-run are not comparable to other
    # rounds no matter how many reps each query gets. The whole suite
    # is therefore one regimestamp.gated ATTEMPT: if |start-end| canary
    # drift exceeds regimestamp.GATE_PCT the suite re-runs (bounded),
    # and the artifact publishes per-query MIN-of-all-attempts floors
    # plus every attempt's drift; if no attempt passes, the artifact
    # carries the pinned diagnosis instead of silently publishing
    # contended data. The gate is on drift alone (require_calm=False):
    # the canary band is published, not retried on.
    gate = regimestamp.gated(
        spark, lambda: _run_suite(spark, qs, sf_dir), require_calm=False
    )
    for i, att in enumerate(gate["attempts"], 1):
        print(f"bench: attempt {i} canary drift {att['drift_pct']}%",
              file=sys.stderr)
    crash = gate.get("crash")
    if crash is not None:
        print(f"bench: attempt {crash['attempt']} crashed: {crash['exc']}",
              file=sys.stderr)

    payload = _merge_attempts(gate["attempts"], crash=crash)
    payload["sf"] = sf
    payload.update(
        _prior_round_ratio(payload["queries"], payload["canary"]["sec"])
    )
    _emit(payload)
    return 0


def _run_suite(spark, qs, sf_dir) -> dict:
    """One full measurement attempt (regimestamp.gated brackets it with
    the start/end canaries): every registered query (min-of-2 + the
    top-decile variance phase), then the streaming ingest."""
    from mqtt_influx_storage_service_spark.operators import WARM_REPS

    timings: dict[str, float | None] = {}
    rep_times: dict[str, list[float]] = {}

    def _one_rep(name: str) -> float:
        # build + noop-sink execution of one cold rep (regimestamp.rep)
        return sum(regimestamp.rep(spark, qs, name, sf_dir))

    for name in headline_names(qs):
        try:
            if name in WARM_REPS:
                _one_rep(name)  # discarded: first-touch warm-up
            reps = [_one_rep(name) for _ in range(2)]
            rep_times[name] = reps
            timings[name] = round(min(reps), 3)
        except Exception as exc:  # noqa: BLE001 - isolate per-query failures
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = None

    # Top-decile extra reps (VERDICT r5 "Next round" #8): more reps for
    # the 10 slowest entries so the artifact can show whether a
    # round-over-round delta on an expensive query is signal or noise.
    # The published spread_pct is computed by _merge_attempts over the
    # MERGED rep lists; this phase only gathers the reps and converges
    # the floor.
    top10 = sorted(
        (k for k, v in timings.items() if v is not None),
        key=lambda k: timings[k],
        reverse=True,
    )[:10]
    for name in top10:
        # r10 diagnosis (STRESS_r10 `variance_phase_diag`): by the time
        # the variance phase runs, 200+ other queries have executed and
        # this query's persisted/page/codegen state may be evicted — a
        # fresh-context rep is reproducibly 2-5x the steady state with
        # GC refuted as the cause (first-touch, not pauses). A timed
        # rep that pays the rebuild records the eviction cost as
        # "run-to-run noise", which is not what spread_pct claims, and
        # the max sticks even after the guard's re-runs converge. One
        # DISCARDED re-warm rep puts the timed reps back on the steady
        # state the number describes (same discipline as the main
        # loop's warm-rep list).
        try:
            _one_rep(name)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: {name} re-warm failed: {exc}", file=sys.stderr)
        # contention guard (VERDICT r7 #2c): after the 3rd rep, keep
        # re-running (up to 5 total) while the spread stays above 60% —
        # min-of-N converges on the uncontended number instead of
        # publishing a noisy-neighbor artifact.
        while True:
            try:
                rep_times[name].append(_one_rep(name))
            except Exception as exc:  # noqa: BLE001
                print(f"bench: {name} extra rep failed: {exc}", file=sys.stderr)
                break
            reps = rep_times[name]
            spread = 100 * (max(reps) - min(reps)) / min(reps)
            if spread <= 60 or len(reps) >= 5:
                break
        reps = rep_times[name]
        timings[name] = round(min(reps), 3)

    try:
        timings["stream_ingest"] = _bench_stream_ingest(spark, sf_dir)
        rep_times["stream_ingest"] = [timings["stream_ingest"]]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: stream_ingest failed: {exc}", file=sys.stderr)
        timings["stream_ingest"] = None

    return {"timings": timings, "rep_times": rep_times}


def _merge_attempts(attempts: list[dict], crash: dict | None = None) -> dict:
    """Fold the gate's attempts into ONE publishable payload: per-query
    min across every attempt's reps (min-of-N publishes floors — the
    floor is stable ±3% across runs on this box even when spreads are
    not, STRESS_r10 `variance_phase_diag`), the lowest-drift attempt's
    canary as the machine-speed anchor, and the full drift history so
    a contended window is visible inside the artifact instead of
    argued in prose. A query is `failed` only if NO attempt ran it.

    ``attempts`` are ``regimestamp.gated``'s records, each carrying one
    ``_run_suite`` result and the attempt's canary stamps."""
    attempts = [
        {
            **a["result"],
            "canary_start": a["start"]["canary_sec"],
            "canary_end": a["end"]["canary_sec"],
            "drift_pct": a["drift_pct"],
        }
        for a in attempts
    ]
    names: list[str] = []
    for att in attempts:
        for k in att["timings"]:
            if k not in names:
                names.append(k)
    merged_reps: dict[str, list[float]] = {
        k: [r for att in attempts for r in att["rep_times"].get(k, [])]
        for k in names
    }
    timings: dict[str, float | None] = {
        k: (round(min(merged_reps[k]), 3) if merged_reps[k] else None)
        for k in names
    }
    # A crashed query must never make the suite look FASTER (ADVICE r3):
    # surface failures in a top-level list and null the headline value so
    # any regression that kills a query is unmissable in BENCH_r{N}.json.
    failed = sorted(k for k, v in timings.items() if v is None)
    total = (
        None
        if failed
        else round(sum(v for v in timings.values() if v is not None), 3)
    )
    top10 = sorted(
        (k for k, v in timings.items() if v is not None),
        key=lambda k: timings[k],
        reverse=True,
    )[:10]
    best = min(attempts, key=lambda a: a["drift_pct"])
    variance: dict[str, dict] = {}
    for name in top10:
        # Spread is computed WITHIN the lowest-drift attempt's reps
        # (ADVICE r12): when attempts straddle a contended window —
        # the gate's whole premise — reps merged across attempts mix
        # machine-speed regimes, so a cross-attempt spread would
        # misattribute box drift to LRU rebuilds. Falls back to the
        # merged reps only when the best attempt lacks 2 reps for the
        # query (crash salvage), with the scope recorded either way.
        best_reps = best["rep_times"].get(name, [])
        within_best = len(best_reps) >= 2
        reps = best_reps if within_best else merged_reps[name]
        if not reps:
            continue
        spread = round(100 * (max(reps) - min(reps)) / min(reps), 1)
        variance[name] = {
            "n": len(reps),
            "min": round(min(reps), 3),
            "max": round(max(reps), 3),
            "spread_pct": spread,
            "scope": "best_attempt" if within_best else "merged_attempts",
        }
        if spread > 100:
            # known single-JVM harness artifact: after 200+ queries the
            # persisted tables share one storage/execution LRU, so even
            # warm reps can pay partial cache rebuilds (STRESS_r10
            # `variance_phase_diag`); the min-of-N floor stays the claim
            variance[name]["note"] = (
                "spread dominated by shared-LRU cache rebuilds across "
                "the 225-query run, not plan variance; floor is the "
                "published number"
                if within_best
                else "reps merged across attempts spanning different "
                "machine-speed windows (best attempt has <2 reps); "
                "spread reflects cross-attempt drift and/or shared-LRU "
                "rebuilds; floor is the published number"
            )
    drifts = [a["drift_pct"] for a in attempts]
    contended = best["drift_pct"] > regimestamp.GATE_PCT
    gate = {
        "gate_pct": regimestamp.GATE_PCT,
        "attempts": len(attempts),
        "drift_pct_per_attempt": drifts,
        "contended_after_retries": contended,
    }
    if crash is not None:
        # ADVICE r12: a retry that crashed after a failed-gate attempt
        # cut the retry loop short — record it so a contended diagnosis
        # can't read as "retries exhausted" when they weren't.
        gate["crashed_attempt"] = crash["attempt"]
        gate["crash_exc"] = crash["exc"]
    if contended:
        cut_short = (
            " NOTE: the retry loop was cut short by a crash on attempt "
            f"{crash['attempt']} (crash_exc in this dict), not exhausted."
            if crash is not None
            else ""
        )
        gate["diagnosis"] = (
            f"in-run canary drift stayed above {regimestamp.GATE_PCT}% for "
            f"all {len(attempts)} completed attempts — the box was "
            "contended for the whole bench window; per-query "
            "MIN-of-all-attempts floors are published (floors reproduce "
            "±3% across runs, STRESS_r10 variance_phase_diag) and "
            "round-over-round comparison should lean on "
            f"common_ratio_canary_normalized.{cut_short}"
        )
    # machine-speed anchor from the GATE-PASSED window only: a global
    # min over all attempts could pick a reading from a window the gate
    # itself judged contended, skewing common_ratio_canary_normalized
    # (r12 review finding)
    canary_sec = round(min(best["canary_start"], best["canary_end"]), 3)
    return {
        "metric": "headline_query_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "n_queries": len(timings),
        "reps_default": 2,
        "top_decile_variance": variance,
        "contention_gate": gate,
        "canary": {
            "rows": regimestamp.CANARY_ROWS,
            "start_sec": best["canary_start"],
            "end_sec": best["canary_end"],
            "sec": canary_sec,
            "drift_pct": best["drift_pct"],
            # calibrated regime band (tools/regimestamp.py): walls
            # from a 'degraded' window are unusable no matter what
            # the within-run drift says (the r13 third-regime lesson)
            "band": regimestamp.band(canary_sec),
        },
    }


# stay safely inside the driver's ~2000-char stdout tail window; the
# margin absorbs a trailing newline and any straggler log line.
_TAIL_BUDGET = 1800


def _prior_round_ratio(
    timings: dict[str, float | None], canary_sec: float | None = None
) -> dict:
    """Sum this run's timings over the queries shared with the newest
    machine-readable prior round's bench and report the ratio (<1 =
    faster than last round). Makes the trend self-contained in the
    artifact even when per-query detail is elided from stdout.

    When BOTH rounds embed the fixed-work canary, also reports the
    canary-NORMALIZED ratio — common_ratio divided by the machine-speed
    ratio (this canary / prior canary) — so a VM-throughput drift like
    r7's contended 1.685x artifact is mechanically separable from plan
    regressions. Prior rounds without a canary (<= r7) normalize as
    null; from r8 on the field is always populated."""
    import glob

    best_round, prior = None, None
    for path in sorted(glob.glob(os.path.join(_REPO, "BENCH_r*.json"))):
        # main-round artifacts only: BENCH_r14_c8.json is a LOW-CORE
        # scaling probe, and r15's opening baseline silently compared
        # against it (common_vs_round "r14_c8") because BENCH_r14's own
        # inline query map was empty — a 32-core-vs-8-core ratio is not
        # a round-over-round trend (measurement bug, OPTIMIZATION_r15).
        if not re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(path)):
            continue
        try:
            with open(path) as fh:
                rec = json.load(fh)
            parsed = rec.get("parsed")
            if parsed and parsed.get("queries"):
                best_round, prior = os.path.basename(path)[6:-5], parsed
        except Exception:  # noqa: BLE001 - artifact files are best-effort
            continue
    if prior is None:
        return {}
    common = [
        k
        for k, v in prior["queries"].items()
        if v is not None and timings.get(k) is not None
    ]
    if not common:
        return {}
    now = round(sum(timings[k] for k in common), 3)
    then = round(sum(prior["queries"][k] for k in common), 3)
    ratio = round(now / then, 3) if then else None
    prior_canary = (prior.get("canary") or {}).get("sec")
    normalized = None
    if ratio is not None and canary_sec and prior_canary:
        normalized = round(ratio / (canary_sec / prior_canary), 3)
    return {
        "common_vs_round": best_round,
        "common_n": len(common),
        "common_now_sec": now,
        "common_prior_sec": then,
        "common_ratio": ratio,
        "common_ratio_canary_normalized": normalized,
    }


_REPO = os.path.dirname(os.path.abspath(__file__))


# The printed line must keep at least this many per-query entries: the
# driver's PERF comparison keys on the inline "queries" map, and r14's
# grown gate/variance prose squeezed it to ZERO entries — which blinded
# PERF_r14 entirely (n_common 0, 8 phantom "dropped" heavies; VERDICT
# r14 #1/"Next round" #1). Prose is shed BEFORE query entries: every
# shed field survives verbatim in BENCH_DETAIL.json.
_MIN_INLINE_QUERIES = 10


def _detail_file() -> str:
    cpus = local_cpus()
    return "BENCH_DETAIL.json" if cpus == "32" else f"BENCH_DETAIL_c{cpus}.json"


def _emit(payload: dict) -> None:
    cpus = local_cpus()
    payload["cpus"] = int(cpus) if cpus.isdigit() else cpus
    detail = _detail_file()
    with open(os.path.join(_REPO, detail), "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=False)
        fh.write("\n")
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) <= _TAIL_BUDGET:
        print(line)
        return
    # Over budget: shed diagnostic prose first (it lives on in
    # BENCH_DETAIL.json), then elide per-query detail slowest-first —
    # but never below _MIN_INLINE_QUERIES entries.
    ranked = sorted(
        payload["queries"].items(),
        key=lambda kv: (kv[1] is not None, kv[1] or 0.0),
        reverse=True,
    )
    slim = dict(payload)
    slim["queries_file"] = detail

    # each shedder rewrites only keys the payload already has
    def _shed_variance_notes(p: dict) -> None:
        if "top_decile_variance" in p:
            p["top_decile_variance"] = {
                k: {kk: vv for kk, vv in v.items() if kk != "note"}
                for k, v in p["top_decile_variance"].items()
            }

    def _shed_gate_prose(p: dict) -> None:
        if "contention_gate" not in p:
            return
        gate = dict(p["contention_gate"])
        if "diagnosis" in gate:
            gate["diagnosis"] = "contended; full text in BENCH_DETAIL.json"
        if "crash_exc" in gate:
            gate["crash_exc"] = str(gate["crash_exc"])[:60]
        p["contention_gate"] = gate

    def _shed_variance_block(p: dict) -> None:
        if "top_decile_variance" in p:
            p["top_decile_variance"] = {"see": "BENCH_DETAIL.json"}

    shedders = [_shed_variance_notes, _shed_gate_prose, _shed_variance_block]
    floor = min(_MIN_INLINE_QUERIES, len(ranked))
    while True:
        keep = len(ranked)
        while True:
            slim["queries"] = dict(ranked[:keep])
            slim["queries_omitted"] = len(ranked) - keep
            line = json.dumps(slim, separators=(",", ":"))
            if len(line) <= _TAIL_BUDGET or keep <= floor:
                break
            keep = max(floor, keep - max(1, (len(line) - _TAIL_BUDGET) // 30))
        if len(line) <= _TAIL_BUDGET or not shedders:
            break
        shedders.pop(0)(slim)
    if len(line) > _TAIL_BUDGET:
        # absolute fallback (should be unreachable: 10 query entries +
        # the shed payload fit with hundreds of chars to spare): a
        # head-truncated line is unparseable, which is worse than an
        # elided one, so shrink below the floor rather than overflow.
        keep = floor
        while len(line) > _TAIL_BUDGET and keep > 0:
            keep -= 1
            slim["queries"] = dict(ranked[:keep])
            slim["queries_omitted"] = len(ranked) - keep
            line = json.dumps(slim, separators=(",", ":"))
    print(line)


def _bench_stream_ingest(spark, sf_dir: str) -> float:
    """End-to-end Structured Streaming ingest (the reference's actual
    job): events → MQTT frames on disk → readStream → parse/coerce/
    narrow-layout → checkpointed partitioned parquet sink. Timed from
    query start to completion of the availableNow replay; input staging
    is excluded."""
    import pathlib
    import shutil
    import tempfile

    from mqtt_influx_storage_service_spark import streaming as st
    from mqtt_influx_storage_service_spark.operators.refsemantics import _mqtt_frame

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        src = os.path.join(tmp, "src")
        _mqtt_frame(spark, sf_dir).select("ts", "topic", "payload").coalesce(
            8
        ).write.mode("overwrite").parquet(src)
        # harmless marker file; Spark ignores underscore-prefixed files
        # anyway, but keep the source dir to data files only
        pathlib.Path(src, "_SUCCESS").unlink(missing_ok=True)
        t0 = time.time()
        q = st.start_ingest(
            spark, src, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
        )
        q.awaitTermination(600)
        return round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
