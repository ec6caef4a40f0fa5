"""Shared wall measurement for bench.py and every wall-publishing tool
(VERDICT r13 "Next round" #4).

Through r13, bench.py, the stress tools, and the skew census each
hand-rolled their own fixed-work canary, and only bench.py had the
attempt gate — so the r13 grid-verify wall claim was adjudicated from
min-of-runs across a visibly degrading box instead of measured inside
a certified calm window. This module is the one home for:

- the fixed-work CANARY (constant-size, SF-independent JVM-side job:
  range -> xxhash64 -> 1024-bucket hash agg, the job bench.py has
  stamped since r8, so every artifact's machine-speed anchor is
  cross-comparable);
- the box's calibrated BAND history (measured across r12-r13):
  * fast  ~0.37-0.45 s  (idle box, the band every per-query claim
    wants);
  * slow  ~0.56-0.62 s  (the second steady regime, switches
    mid-session; numbers comparable after canary normalization);
  * degraded  >= ~1.0 s  (the r13 "third regime": 2.14 s from an
    IDLE start — host-level throttling; walls are UNUSABLE, only
    byte metrics survive);
- the attempt GATE: run the measured section between start/end
  canaries, retry while the window drifted (> GATE_PCT) or sat in
  the degraded band, publish every attempt's stamps either way.
  bench.py and tools/isolate.py gate on drift alone
  (require_calm=False); the local[32] stress tools keep the calm gate;
- the cold REP that bench.py and tools/isolate.py time per query.

Shuffle-byte metrics reproduce byte-identically across all three
regimes (six grid-verify runs, r13); wall metrics are only
publishable from a `fast`/`slow` non-drifting window. Tools embed
the returned stamps verbatim so the regime adjudication lives in the
artifact, not in prose.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from mqtt_influx_storage_service_spark.cache import release_for

CANARY_ROWS = 50_000_000

# max start/end canary drift of a comparable window (r10/r11 shipped 35-66%)
GATE_PCT = 15.0

# Band edges calibrated from the r12/r13 history (BENCH_r12/r13
# canaries, STRESS_r13 grid wall_history_note). The gap 0.50-0.70 is
# the observed no-man's-land between the two steady regimes; readings
# there are labeled 'intermediate' rather than force-fit.
FAST_MAX = 0.50
SLOW_MAX = 0.70
DEGRADED_MIN = 1.00


def band(sec: float) -> str:
    if sec < FAST_MAX:
        return "fast"
    if sec < SLOW_MAX:
        return "slow"
    if sec < DEGRADED_MIN:
        return "intermediate"
    return "degraded"


def canary(spark, reps: int = 4) -> float:
    """Min of warm reps of the fixed-work job (rep 0 DISCARDED: a cold
    JVM's first rep is JIT/GC warm-up, not machine speed — the r8
    lesson, preserved verbatim from bench.py)."""
    times: list[float] = []
    for i in range(reps):
        t0 = time.time()
        (
            spark.range(0, CANARY_ROWS, 1, 32)
            .selectExpr("pmod(xxhash64(id), 1024) AS b")
            .groupBy("b")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        if i > 0:
            times.append(time.time() - t0)
    return round(min(times), 3)


def stamp(spark) -> dict:
    sec = canary(spark)
    return {"canary_sec": sec, "band": band(sec), "rows": CANARY_ROWS}


def drift_pct(start_sec: float, end_sec: float) -> float:
    return round(
        100 * abs(end_sec - start_sec) / min(start_sec, end_sec), 1
    )


def gated(
    spark,
    fn: Callable[[], dict],
    *,
    gate_pct: float = GATE_PCT,
    max_attempts: int = 3,
    require_calm: bool = True,
) -> dict:
    """Run ``fn`` between start/end canaries; retry while the window
    drifted beyond ``gate_pct`` or (with ``require_calm``) either
    stamp sat in the degraded band. Returns::

        {"result": <last finished attempt's fn() value>,
         "attempts": [{"start": stamp, "end": stamp, "drift_pct": f,
                       "calm": bool, "result": <its fn() value>}, ...],
         "passed": bool,   # last finished attempt met the gate
         "crash": {"attempt": n, "exc": str}}   # only after a crash

    Every attempt's stamps are returned, so a caller that exhausts the
    retries publishes the contended/degraded diagnosis instead of
    silently shipping bad walls. A first-attempt crash propagates; a
    later one ends the loop and is recorded, so "retries exhausted" is
    never claimed for a cut loop."""
    attempts: list[dict] = []
    out: dict = {"result": None, "attempts": attempts, "passed": False}
    for i in range(max_attempts):
        try:
            start = stamp(spark)
            result = fn()
            end = stamp(spark)
        except Exception as exc:  # noqa: BLE001 - salvage finished attempts
            if not attempts:
                raise
            out["crash"] = {"attempt": i + 1, "exc": repr(exc)[:300]}
            break
        d = drift_pct(start["canary_sec"], end["canary_sec"])
        calm = "degraded" not in (start["band"], end["band"])
        attempts.append({"start": start, "end": end, "drift_pct": d,
                         "calm": calm, "result": result})
        out["result"] = result
        out["passed"] = d <= gate_pct and (calm or not require_calm)
        if out["passed"]:
            break
    return out


def regime(gate: dict) -> dict:
    """``gated()``'s output minus the ``fn()`` results: the stamps a
    tool publishes next to the walls they certify."""
    out = {k: v for k, v in gate.items() if k != "result"}
    out["attempts"] = [{k: v for k, v in a.items() if k != "result"}
                       for a in gate["attempts"]]
    return out


def rep(spark, qs: dict, name: str, sf_dir: str) -> tuple[float, float]:
    """One cold rep of registry query ``name``: release the campaign
    caches it declares cold (``operators.COLD_TAGS``), build it, run it
    into the ``noop`` sink. Returns ``(construct_s, exec_s)``."""
    release_for(spark, name)
    t0 = time.time()
    df = qs[name](spark, sf_dir)
    t1 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.time() - t1
