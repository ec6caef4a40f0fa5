"""The benchmark's own smoke tests.

    python3 -m pytest perfbench/test_smoke.py -q          # checkers only, seconds
    PERFBENCH_SMOKE_RUNS=1 python3 -m pytest perfbench -q  # plus one tiny run per workload

The checker tests write a correct output by hand from the generator's
record, prove the checker accepts it, then corrupt it one way at a time
and prove the checker refuses each corruption.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

SEED = 5


def _ts(us):
    return pa.array(list(us), pa.int64()).cast(pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _snapshot(table_dir: str, table: pa.Table) -> None:
    _write(os.path.join(table_dir, "data-0", "part-0.parquet"), table)
    os.makedirs(os.path.join(table_dir, "_manifest"), exist_ok=True)
    with open(os.path.join(table_dir, "_manifest", "v00000001.json"), "w") as fh:
        json.dump({"version": 1, "data_dir": "data-0", "batch_ids": [0]}, fh)


def _lake(tmp, truth: checks.IngestTruth, points=None, registry=None, dead=None,
          pairs=None, stats=None):
    """A lake as a correct ingest job writes it, from the replayed truth;
    a keyword replaces one output with a corrupted version."""
    out = os.path.join(tmp, "lake")
    pts = points if points is not None else list(truth.points.elements())
    _write(os.path.join(out, "points", "ingest_date=2024-03-01", "p.parquet"), pa.table({
        "series_id": [p[0] for p in pts],
        "ts": _ts(p[1] for p in pts),
        "value_type": [p[2] for p in pts],
        "value_double": pa.array([p[3] if p[2] == "float" else None for p in pts], pa.float64()),
        "value_bool": pa.array([p[3] if p[2] == "bool" else None for p in pts], pa.bool_()),
        "value_str": pa.array([p[3] if p[2] == "string" else None for p in pts], pa.string()),
    }))
    dead = dead if dead is not None else list(truth.dead.elements())
    _write(os.path.join(out, "dead_letter", "d.parquet"), pa.table({
        "ts": _ts(d[0] for d in dead),
        "topic": [d[1] for d in dead],
        "payload": [d[2] for d in dead],
    }))
    stats = stats if stats is not None else _closed_windows(truth)
    _write(os.path.join(out, "stats", "s.parquet"), pa.table({
        "window_start": _ts(s[0] for s in stats),
        "points_written": [s[1] for s in stats],
        "n_devices": [s[2] for s in stats],
    }))
    reg = registry if registry is not None else truth.registry
    _snapshot(os.path.join(tmp, "registry"), pa.table({
        "device_id": list(reg), "registered_ts": _ts(reg.values()),
    }))
    pairs = pairs if pairs is not None else _pairs(truth)
    _snapshot(os.path.join(tmp, "transducers"), pa.table({
        "device_id": [p[0] for p in pairs], "transducer": [p[1] for p in pairs],
        "created_ts": _ts(p[2] for p in pairs),
    }))
    return out


def _closed_windows(truth):
    """(window_start, points_written, n_devices) of every closed window."""
    wm = truth.max_ts - 2 * checks.TEN_MIN_US
    wins = sorted(w for w in truth.windows if w + checks.TEN_MIN_US <= wm)
    return [(w, truth.windows[w][0], len(truth.windows[w][1])) for w in wins]


def _pairs(truth):
    return [(d, t, c) for (d, t), c in truth.pairs.items()]


@pytest.fixture(scope="module")
def truth():
    fleet = gen.Fleet(SEED, n_devices=10)
    frames = [gen.frame_round(fleet, SEED, r, 1500) for r in range(2)]
    return checks.IngestTruth(frames, fleet)


def _check(tmp, truth, **kw):
    out = _lake(str(tmp), truth, **kw)
    return checks.check_ingest(truth, out, str(tmp / "registry"), str(tmp / "transducers"))


def test_generator_is_seeded_and_has_the_planned_mix(truth):
    fleet = gen.Fleet(SEED, n_devices=10)
    a = gen.frame_round(fleet, SEED, 0, 3000)
    assert a.equals(gen.frame_round(fleet, SEED, 0, 3000))
    assert not a.equals(gen.frame_round(fleet, SEED + 1, 0, 3000))
    topics = a.column("topic").to_pylist()
    events = sum(t == gen.EVENTS_TOPIC for t in topics)
    malformed = sum(t.startswith(gen.DATA_PREFIX) and not checks._well_formed(t.split("/"))
                    for t in topics)
    ghosts = sum("/Ghost" in t for t in topics)
    assert 0 < events < 0.02 * len(topics)
    assert 0 < malformed < 0.03 * len(topics)
    assert 0.05 * len(topics) < ghosts < 0.15 * len(topics)
    assert len({d for (d, _t), _ in truth.pairs.items()}) > 5


def test_ingest_checker_accepts_a_correct_lake(tmp_path, truth):
    assert _check(tmp_path, truth) == []


def test_ingest_checker_rejects_a_dropped_point(tmp_path, truth):
    pts = list(truth.points.elements())
    assert any("points" in p for p in _check(tmp_path, truth, points=pts[1:]))


def test_ingest_checker_rejects_a_duplicated_point(tmp_path, truth):
    pts = list(truth.points.elements())
    assert any("points" in p for p in _check(tmp_path, truth, points=pts + pts[:1]))


def test_ingest_checker_rejects_a_wrong_value(tmp_path, truth):
    pts = list(truth.points.elements())
    i = next(i for i, p in enumerate(pts) if p[2] == "float")
    pts[i] = (*pts[i][:3], pts[i][3] + 0.01)
    assert any("points" in p for p in _check(tmp_path, truth, points=pts))


def test_ingest_checker_rejects_a_wrong_registry_row(tmp_path, truth):
    reg = dict(truth.registry)
    reg["cdc-never-seen"] = 0
    assert any("registry" in p for p in _check(tmp_path, truth, registry=reg))
    reg = dict(truth.registry)
    reg.pop(next(iter(reg)))
    assert any("registry" in p for p in _check(tmp_path, truth, registry=reg))


def test_ingest_checker_rejects_a_dropped_dead_letter_row(tmp_path, truth):
    dead = list(truth.dead.elements())
    assert any("dead letter" in p for p in _check(tmp_path, truth, dead=dead[1:]))


def test_ingest_checker_rejects_a_duplicated_transducer_pair(tmp_path, truth):
    pairs = _pairs(truth)
    assert any("transducers" in p for p in _check(tmp_path, truth, pairs=pairs + pairs[:1]))


def test_ingest_checker_rejects_a_wrong_or_duplicated_stats_window(tmp_path, truth):
    wins = _closed_windows(truth)
    assert len(wins) > 2
    wrong = [*wins[:1], (wins[1][0], wins[1][1] + 1, wins[1][2]), *wins[2:]]
    assert any("stats" in p for p in _check(tmp_path, truth, stats=wrong))
    assert any("stats" in p for p in _check(tmp_path, truth, stats=wins + wins[:1]))
    assert any("stats" in p for p in _check(tmp_path, truth, stats=wins[1:]))


def test_twin_comparison_rules():
    a = pd.DataFrame({"time": pd.to_datetime(["2024-03-01", "2024-03-02"]), "m": [1.0, 2.5]})
    b = a.iloc[::-1].assign(m=[2.5000001, 1.0])  # order and float noise
    assert checks.compare_frames(a, b) == []
    assert checks.compare_frames(a, b.assign(m=[2.6, 1.0])) != []
    assert checks.compare_frames(a, b.iloc[:1]) != []
    # an integer count on one side equals a float count on the other
    assert checks.compare_frames(pd.DataFrame({"n": [3, 4]}), pd.DataFrame({"n": [4.0, 3.0]})) == []


def test_curation_checkers_reject_corrupted_results():
    docs, emb, planted = gen.corpus(SEED, 120)
    assert planted, "the corpus plants near-duplicate clusters"
    sh = [checks._shingles(t) for t in docs.column("text").to_pylist()]
    good = [(a, b) for a, b in planted if checks._jaccard(sh[a], sh[b]) >= 0.5]
    pairs = pd.DataFrame(good, columns=["doc_a", "doc_b"])
    assert checks.check_jaccard(pairs, docs, planted) == []
    assert checks.check_jaccard(pairs.iloc[1:], docs, planted) != []
    far = next((a, b) for a in range(120) for b in range(a + 1, 120)
               if checks._jaccard(sh[a], sh[b]) < 0.5)
    assert checks.check_jaccard(pd.concat([pairs, pd.DataFrame([far], columns=pairs.columns)]),
                                docs, planted) != []
    k = 3
    truth = checks.exact_knn(emb, k)
    rows = [(q, n, r + 1) for q, ns in truth.items() for r, n in enumerate(ns)]
    knn = pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "rank"])
    assert checks.check_knn(knn, emb) == []
    wrong = knn.copy()
    wrong.loc[wrong["rank"] == 1, "neighbor_id"] = (wrong.loc[wrong["rank"] == 1, "vec_id"] + 1) % 120
    assert checks.check_knn(wrong, emb) != []
    ivf = knn.rename(columns={"vec_id": "query_id"})
    assert checks.check_ivf(ivf, emb, 0.5) == []
    # each query gets another query's neighbours, rank for rank
    swapped = ivf.assign(neighbor_id=ivf.groupby("rank")["neighbor_id"].transform(lambda s: s[::-1].values))
    assert checks.check_ivf(swapped, emb, 0.5) != []


def test_recall_checker():
    truth = {(0, 1), (2, 3), (4, 5), (6, 7)}
    assert checks.check_recall("lsh", truth | {(8, 9)}, truth, 0.9) == []
    assert checks.check_recall("lsh", {(0, 1), (2, 3), (4, 5)}, truth, 0.9) != []
    assert checks.check_recall("lsh", set(), truth, 0.5) != []


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE_RUNS"),
                    reason="starts Spark; set PERFBENCH_SMOKE_RUNS=1")
@pytest.mark.parametrize("workload", ["query", "curation"])
def test_workload_completes_tiny(workload):
    root = os.path.dirname(HERE)
    env = dict(os.environ, PERFBENCH_TINY="1")
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, p.stderr[-3000:]
    assert not os.path.exists(os.path.join(root, ".perfbench_tmp"))


def test_refuses_to_run_without_the_package(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and not p.stdout.strip()
