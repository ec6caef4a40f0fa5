"""bench.py artifact contract (VERDICT r4 #4): the driver records only
a ~2000-char stdout TAIL, so the final JSON line must stay inside
_TAIL_BUDGET no matter how large the registry grows, while the full
payload persists to BENCH_DETAIL.json. These tests pin that contract
so a future registry growth can't silently regress BENCH_r{N} parsing
again."""

from __future__ import annotations

import ast
import json
import os

import bench
from tools import regimestamp

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_queries(n):
    return {f"q{i:03d}_{'x' * (i % 17)}_operator": round(0.01 * i, 3) for i in range(n)}


def test_emit_stays_inside_tail_budget_and_parses(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    for n in (10, 150, 400):
        payload = {
            "metric": "headline_query_suite_sec",
            "value": 1.0,
            "unit": "sec",
            "queries": _fake_queries(n),
            "failed": [],
            "sf": 0.1,
            "n_queries": n,
        }
        bench._emit(payload)
        line = capsys.readouterr().out.strip().splitlines()[-1]
        assert len(line) <= bench._TAIL_BUDGET
        parsed = json.loads(line)
        assert parsed["value"] == 1.0 and parsed["n_queries"] == n
        # full payload always lands in the detail file
        detail = json.load(open(tmp_path / bench._detail_file()))
        assert len(detail["queries"]) == n
        if len(parsed["queries"]) < n:
            assert parsed["queries_file"] == bench._detail_file()
            assert parsed["queries_omitted"] == n - len(parsed["queries"])
            # elision keeps the SLOWEST queries — the grading signal
            kept = set(parsed["queries"])
            dropped_max = max(
                v for k, v in detail["queries"].items() if k not in kept
            )
            kept_min = min(parsed["queries"].values())
            assert kept_min >= dropped_max


def test_emit_keeps_ten_slowest_inline_over_prose(tmp_path, monkeypatch, capsys):
    """VERDICT r14 #1: the r14 artifact's grown gate/variance prose
    squeezed EVERY per-query entry out of the printed line, blinding
    the driver's PERF comparison. Prose must be shed before query
    entries, and at least the 10 slowest queries must always print
    inline (they live on in BENCH_DETAIL.json either way)."""
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    note = (
        "spread dominated by shared-LRU cache rebuilds across the "
        "225-query run, not plan variance; floor is the published number"
    )
    queries = _fake_queries(225)
    slowest = sorted(queries, key=lambda k: queries[k], reverse=True)
    payload = {
        "metric": "headline_query_suite_sec",
        "value": 100.0,
        "unit": "sec",
        "queries": queries,
        "failed": [],
        "n_queries": 225,
        "reps_default": 2,
        # r14-shaped bloat: 10 variance rows with long notes + a long
        # contended diagnosis + crash text
        "top_decile_variance": {
            k: {"n": 5, "min": 1.0, "max": 3.0, "spread_pct": 200.0,
                "scope": "best_attempt", "note": note}
            for k in slowest[:10]
        },
        "contention_gate": {
            "gate_pct": 15.0,
            "attempts": 3,
            "drift_pct_per_attempt": [34.8, 22.0, 19.0],
            "contended_after_retries": True,
            "diagnosis": "d" * 500,
            "crash_exc": "e" * 300,
        },
        "canary": {"rows": 1, "start_sec": 0.3, "end_sec": 0.3,
                   "sec": 0.3, "drift_pct": 3.0, "band": "fast"},
        "sf": 0.1,
    }
    bench._emit(payload)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= bench._TAIL_BUDGET
    parsed = json.loads(line)
    assert len(parsed["queries"]) >= bench._MIN_INLINE_QUERIES
    # the inline survivors are the slowest — the grading signal
    assert set(slowest[: len(parsed["queries"])]) == set(parsed["queries"])
    # the full prose still lives in the detail file, untouched
    detail = json.load(open(tmp_path / bench._detail_file()))
    assert detail["contention_gate"]["diagnosis"] == "d" * 500
    assert all("note" in v for v in detail["top_decile_variance"].values())


def test_emit_sheds_without_inventing_keys(tmp_path, monkeypatch, capsys):
    """The shedders must cope with a non-string ``crash_exc`` (a
    structured exception record) and must not write back keys the
    payload never had: no ``top_decile_variance`` in, none out."""
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    payload = {
        "metric": "headline_query_suite_sec",
        "value": 100.0,
        "queries": _fake_queries(225),
        "failed": [],
        "contention_gate": {
            "gate_pct": 15.0,
            "crash_exc": {"type": "Py4JJavaError",
                          "trace": [f"at frame {i}" for i in range(200)]},
        },
    }
    bench._emit(payload)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= bench._TAIL_BUDGET
    parsed = json.loads(line)
    assert set(parsed) <= set(payload) | {"queries_file", "queries_omitted"}
    assert "top_decile_variance" not in parsed
    assert len(parsed["contention_gate"]["crash_exc"]) <= 60
    assert len(parsed["queries"]) >= bench._MIN_INLINE_QUERIES


def test_emit_names_detail_file_by_core_count(tmp_path, monkeypatch, capsys):
    """A low-core probe (SPARK_GRAFT_CPUS=8) must not overwrite the main
    run's BENCH_DETAIL.json; every payload stamps its core count."""
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    for cpus, name in (("32", "BENCH_DETAIL.json"), ("8", "BENCH_DETAIL_c8.json")):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        bench._emit({"value": 1.0, "queries": _fake_queries(400), "failed": []})
        parsed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert parsed["cpus"] == int(cpus)
        assert parsed["queries_file"] == name
        assert json.load(open(tmp_path / name))["cpus"] == int(cpus)
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "BENCH_DETAIL.json", "BENCH_DETAIL_c8.json",
    ]


def test_prior_round_ratio_skips_scaling_probe_artifacts(tmp_path, monkeypatch):
    """The r15 opening baseline silently compared against
    BENCH_r14_c8.json — the LOW-CORE scaling probe — because r14's own
    inline query map was empty. Suffixed artifacts are not
    round-over-round comparables and must be skipped."""
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    (tmp_path / "BENCH_r13.json").write_text(
        json.dumps({"parsed": {"queries": {"a": 2.0, "b": 2.0}}})
    )
    (tmp_path / "BENCH_r14.json").write_text(
        json.dumps({"parsed": {"queries": {}}})
    )
    (tmp_path / "BENCH_r14_c8.json").write_text(
        json.dumps({"parsed": {"queries": {"a": 8.0, "b": 8.0}}})
    )
    r = bench._prior_round_ratio({"a": 1.0, "b": 1.0})
    assert r["common_vs_round"] == "r13"
    assert r["common_ratio"] == 0.5


def test_one_rep_release_discipline_covers_r14_persists(spark, sf_dir, owned):
    """VERDICT r14 #2: text_bm25 / sim_hybrid_rrf memoize the pruned tf
    relation and the pipeline campaign trio memoizes the curated
    survivor set — min-of-2 without a per-rep release publishes
    warm-cache floors. The cold declaration must give them those tags,
    and the per-rep ``release_for`` must free exactly those tags while
    the shared dedup-family caches stay resident."""
    from mqtt_influx_storage_service_spark import cache
    from mqtt_influx_storage_service_spark.operators import COLD_TAGS, all_queries

    qs = all_queries()
    assert set(COLD_TAGS) <= set(qs)
    for q in ("text_bm25", "sim_hybrid_rrf"):
        assert "bm25" in COLD_TAGS[q]
    for q in ("pipeline_training_mix", "pipeline_token_budget",
              "pipeline_epochs"):
        assert "curated" in COLD_TAGS[q]

    cache.release(spark)
    try:
        for q in ("text_bm25", "pipeline_training_mix"):
            qs[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert owned("bm25") and owned("curated") and owned("labels")
        # the shared cold rep (bench and tools/isolate.py) releases the
        # query's cold tags BEFORE it builds; the stand-in query
        # records what was resident when its build started
        at_build = {}

        def build(spark_, sf):
            at_build.update(bm25=bool(owned("bm25")),
                            curated=bool(owned("curated")))
            return spark_.range(1)

        construct_s, exec_s = regimestamp.rep(
            spark, {"sim_hybrid_rrf": build}, "sim_hybrid_rrf", sf_dir)
        assert at_build == {"bm25": False, "curated": True}
        assert construct_s >= 0 and exec_s >= 0
        assert owned("curated") and owned("labels")
        assert cache.release_for(spark, "pipeline_epochs") == 1
        assert not owned("curated")
        assert owned("labels")
        # a query without a cold declaration releases nothing
        assert cache.release_for(spark, "dedup_components") == 0
        assert owned("labels")
    finally:
        cache.release(spark)


def test_warm_rep_names_are_registry_keys():
    """bench.py names no query: the warm-rep and JVM warm-up lists live
    in the registry module, so a renamed query must fail here instead
    of silently losing its warm-up."""
    from mqtt_influx_storage_service_spark.operators import (
        JVM_WARMUP,
        WARM_REPS,
        all_queries,
    )

    qs = all_queries()
    assert set(WARM_REPS) <= set(qs)
    assert set(JVM_WARMUP) <= set(qs)


def test_prior_round_ratio_uses_newest_parsed_round(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": {"queries": {"a": 2.0, "b": 2.0}}})
    )
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"parsed": {"queries": {"a": 1.0, "b": 1.0, "c": None}}})
    )
    (tmp_path / "BENCH_r04.json").write_text(json.dumps({"parsed": None}))
    r = bench._prior_round_ratio({"a": 0.5, "b": 0.5, "c": 9.9, "d": 1.0})
    assert r["common_vs_round"] == "r03"  # newest MACHINE-READABLE round
    assert r["common_n"] == 2             # c was null there, d unknown
    assert r["common_ratio"] == 0.5


def test_prior_round_ratio_handles_no_history(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    assert bench._prior_round_ratio({"a": 1.0}) == {}


def test_canary_normalization_contract(tmp_path, monkeypatch):
    """VERDICT r7 #2/#7: the artifact embeds a fixed-work canary and the
    common ratio is normalized against it when the prior round has one
    — a 2x machine slowdown with unchanged per-query times normalizes
    back to ~1.0; a prior round WITHOUT a canary (r7 and earlier)
    yields an explicit null, never a silently-raw number."""
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    # prior round with canary: machine then took 1.0s of fixed work
    (tmp_path / "BENCH_r08.json").write_text(
        json.dumps(
            {"parsed": {"queries": {"a": 1.0, "b": 1.0},
                        "canary": {"sec": 1.0}}}
        )
    )
    # this run: every query 2x slower, but the canary is also 2x slower
    # => raw ratio 2.0, normalized 1.0 (pure machine drift)
    r = bench._prior_round_ratio({"a": 2.0, "b": 2.0}, canary_sec=2.0)
    assert r["common_ratio"] == 2.0
    assert r["common_ratio_canary_normalized"] == 1.0
    # prior round without canary -> normalized is null, raw preserved
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"parsed": {"queries": {"a": 1.0, "b": 1.0}}})
    )
    r = bench._prior_round_ratio({"a": 2.0, "b": 2.0}, canary_sec=2.0)
    assert r["common_vs_round"] == "r09"
    assert r["common_ratio"] == 2.0
    assert r["common_ratio_canary_normalized"] is None


def test_canary_is_fixed_work_and_sf_independent():
    """The canary job is built from constants only (no SPARK_GRAFT_SF_DIR
    reads), so its wall time is comparable across rounds regardless of
    the benched scale factor. It lives in tools/regimestamp.py, SHARED
    by bench (through ``gated``), the stress tools and the skew census
    (VERDICT r13 #4); bench holds no copy."""
    import inspect

    src = inspect.getsource(regimestamp.canary)
    assert "CANARY_ROWS" in src
    assert "sf_dir" not in src and "SPARK_GRAFT" not in src
    assert not hasattr(bench, "_canary")


def _stamp(sec):
    return {"canary_sec": sec, "band": regimestamp.band(sec),
            "rows": regimestamp.CANARY_ROWS}


def _attempt(drift, reps, canary=(0.5, 0.5)):
    """One ``regimestamp.gated`` attempt record around a ``_run_suite``
    result."""
    return {
        "start": _stamp(canary[0]),
        "end": _stamp(canary[1]),
        "drift_pct": drift,
        "calm": True,
        "result": {
            "timings": {k: (round(min(v), 3) if v else None)
                        for k, v in reps.items()},
            "rep_times": reps,
        },
    }


def test_merge_attempts_publishes_floors_and_gate(monkeypatch):
    """VERDICT r11 #4: the contention gate's merge must publish
    per-query MIN across every attempt's reps, surface every attempt's
    drift, mark the artifact contended only when NO attempt passed the
    gate, and carry the pinned diagnosis in that case."""
    a1 = _attempt(66.4, {"qa": [2.0, 1.8], "qb": [0.5], "qc": []},
                  canary=(0.6, 0.37))
    a2 = _attempt(8.0, {"qa": [1.9, 1.5], "qb": [0.6], "qc": [3.0]},
                  canary=(0.38, 0.41))
    merged = bench._merge_attempts([a1, a2])
    assert merged["queries"]["qa"] == 1.5          # floor across attempts
    assert merged["queries"]["qb"] == 0.5
    assert merged["queries"]["qc"] == 3.0          # rescued by attempt 2
    assert merged["failed"] == []
    gate = merged["contention_gate"]
    assert gate["drift_pct_per_attempt"] == [66.4, 8.0]
    assert gate["contended_after_retries"] is False
    assert "diagnosis" not in gate
    # canary anchors on the lowest-drift attempt ONLY — a global min
    # could pick a reading from a window the gate judged contended
    # (r12 review finding)
    assert merged["canary"]["drift_pct"] == 8.0
    assert merged["canary"]["sec"] == 0.38

    # all attempts contended -> diagnosis pinned inside the artifact
    bad = bench._merge_attempts([a1])
    assert bad["contention_gate"]["contended_after_retries"] is True
    assert "canary drift" in bad["contention_gate"]["diagnosis"]

    # a query no attempt ran nulls the headline value
    a3 = _attempt(5.0, {"qa": [1.0], "qc": []})
    solo = bench._merge_attempts([a3])
    assert solo["failed"] == ["qc"] and solo["value"] is None


def test_merge_attempts_annotates_pathological_spread():
    """Top-decile entries with >100% spread carry the known-cause note
    (shared-LRU rebuilds), so the artifact explains itself instead of
    demanding a prose adjudication every round."""
    reps = {f"q{i}": [float(i)] for i in range(12)}
    reps["q11"] = [11.0, 23.0]  # 109% spread, slowest entry
    att = _attempt(5.0, reps)
    merged = bench._merge_attempts([att])
    v = merged["top_decile_variance"]["q11"]
    assert v["spread_pct"] > 100 and "LRU" in v["note"]


def test_merge_attempts_spread_is_within_best_attempt():
    """ADVICE r12: when attempts straddle a contended window, reps
    merged across attempts mix machine-speed regimes — spread_pct must
    come from the lowest-drift attempt's reps alone (scope recorded),
    falling back to merged reps (with the softened note) only when the
    best attempt has <2 reps for the query."""
    # attempt 1 ran in a 2x-slower window: cross-attempt spread would
    # be ~100% even though each attempt's own reps are tight
    slow = {f"q{i}": [20.0 + i, 20.5 + i] for i in range(10)}
    fast = {f"q{i}": [10.0 + i, 10.2 + i] for i in range(10)}
    a1 = _attempt(66.4, slow)
    a2 = _attempt(8.0, fast)
    merged = bench._merge_attempts([a1, a2])
    for v in merged["top_decile_variance"].values():
        assert v["scope"] == "best_attempt"
        assert v["spread_pct"] < 10  # within-attempt, not cross-regime
        assert "note" not in v

    # crash salvage: best attempt missing reps for the slowest query ->
    # merged scope + the softened note when the spread is pathological
    a3 = _attempt(66.4, {"qa": [11.0, 23.0], "qb": [0.5, 0.5]})
    a4 = _attempt(8.0, {"qa": [], "qb": [0.4, 0.4]})
    merged = bench._merge_attempts([a3, a4])
    v = merged["top_decile_variance"]["qa"]
    assert v["scope"] == "merged_attempts"
    assert "cross-attempt" in v["note"]


def test_merge_attempts_records_crash(monkeypatch):
    """ADVICE r12: a retry crash after a failed-gate attempt cuts the
    loop short — the gate dict must record it, and a contended
    diagnosis must say the retries were cut short, not exhausted."""
    a1 = _attempt(66.4, {"qa": [1.0, 1.1]})
    crash = {"attempt": 2, "exc": "RuntimeError('executor lost')"}
    merged = bench._merge_attempts([a1], crash=crash)
    gate = merged["contention_gate"]
    assert gate["crashed_attempt"] == 2
    assert "executor lost" in gate["crash_exc"]
    assert gate["contended_after_retries"] is True
    assert "cut short by a crash on attempt 2" in gate["diagnosis"]

    # crash after a gate-PASSED attempt: recorded, but no diagnosis
    ok = bench._merge_attempts([_attempt(5.0, {"qa": [1.0, 1.1]})],
                               crash={"attempt": 2, "exc": "X"})
    assert ok["contention_gate"]["crashed_attempt"] == 2
    assert "diagnosis" not in ok["contention_gate"]


def test_no_file_pins_an_absolute_import_root():
    """tools/, tests/ and bench.py import the package from their OWN
    checkout: a literal absolute ``sys.path`` entry or module location
    makes a second checkout (a parent-vs-change comparison) silently
    import and test the first one's tree."""
    files = [os.path.join(_ROOT, "bench.py")] + [
        os.path.join(_ROOT, d, f)
        for d in ("tools", "tests")
        for f in sorted(os.listdir(os.path.join(_ROOT, d)))
        if f.endswith(".py")
    ]
    pinned = []
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = ast.unparse(node.func)
            if not fn.endswith(("sys.path.insert", "sys.path.append",
                                "spec_from_file_location")):
                continue
            for arg in ast.walk(node):
                if (isinstance(arg, ast.Constant)
                        and isinstance(arg.value, str)
                        and arg.value.startswith("/")):
                    pinned.append(f"{os.path.relpath(path, _ROOT)}:"
                                  f"{node.lineno} {arg.value}")
    assert pinned == []
