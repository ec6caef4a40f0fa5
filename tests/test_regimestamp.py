"""tools/regimestamp — the shared machine-regime stamping module
(VERDICT r13 #4). Pure-function coverage plus the gated() retry
contract with stamps faked, so no Spark session is needed."""

from __future__ import annotations

import pytest

from tools import regimestamp as rs


def test_band_edges_match_calibrated_history():
    # fast band: the r12 idle readings (0.37-0.45 s)
    assert rs.band(0.37) == "fast"
    assert rs.band(0.45) == "fast"
    # slow band: the second steady regime (0.56-0.62 s)
    assert rs.band(0.56) == "slow"
    assert rs.band(0.62) == "slow"
    # the gap between the regimes is labeled, not force-fit
    assert rs.band(0.85) == "intermediate"
    # the r13 third regime (2.14 s observed) is degraded — walls
    # from such a window are unusable
    assert rs.band(2.14) == "degraded"
    assert rs.band(1.0) == "degraded"


def test_drift_pct_symmetric_over_min():
    assert rs.drift_pct(0.4, 0.5) == 25.0
    assert rs.drift_pct(0.5, 0.4) == 25.0
    assert rs.drift_pct(0.4, 0.4) == 0.0


def test_gated_retries_until_calm_and_publishes_all_attempts(monkeypatch):
    """A drifting then degraded then calm window: gated() must retry
    through the first two, pass on the third, and keep every
    attempt's stamps in the output (the bench.py artifact contract,
    now shared)."""
    stamps = iter([
        {"canary_sec": 0.40, "band": "fast", "rows": rs.CANARY_ROWS},
        {"canary_sec": 0.60, "band": "slow", "rows": rs.CANARY_ROWS},  # 50% drift
        {"canary_sec": 2.10, "band": "degraded", "rows": rs.CANARY_ROWS},
        {"canary_sec": 2.12, "band": "degraded", "rows": rs.CANARY_ROWS},  # calm-fail
        {"canary_sec": 0.41, "band": "fast", "rows": rs.CANARY_ROWS},
        {"canary_sec": 0.43, "band": "fast", "rows": rs.CANARY_ROWS},  # passes
    ])
    monkeypatch.setattr(rs, "stamp", lambda spark: next(stamps))
    runs = []
    out = rs.gated(None, lambda: runs.append(1) or {"n": len(runs)},
                   gate_pct=15.0, max_attempts=3)
    assert out["passed"] is True
    assert len(out["attempts"]) == 3
    assert len(runs) == 3  # fn re-ran each attempt
    assert out["result"] == {"n": 3}
    # each attempt keeps its own fn() result, not just the last one
    assert [a["result"] for a in out["attempts"]] == [
        {"n": 1}, {"n": 2}, {"n": 3}]
    assert out["attempts"][0]["drift_pct"] == 50.0
    assert out["attempts"][1]["calm"] is False
    assert out["attempts"][2]["calm"] is True


def test_gated_exhausts_and_reports_failure(monkeypatch):
    monkeypatch.setattr(
        rs, "stamp",
        lambda spark: {"canary_sec": 2.0, "band": "degraded",
                       "rows": rs.CANARY_ROWS})
    out = rs.gated(None, lambda: {}, gate_pct=15.0, max_attempts=2)
    assert out["passed"] is False
    assert len(out["attempts"]) == 2


def _fast(spark):
    return {"canary_sec": 0.40, "band": "fast", "rows": rs.CANARY_ROWS}


def test_gated_salvages_a_crash_in_a_retry(monkeypatch):
    """A retry that crashes cuts the loop short, but the finished
    attempt is kept and the crash is recorded (bench publishes both)."""
    stamps = iter([0.40, 0.60, 0.40])  # attempt 1 drifts 50%
    monkeypatch.setattr(
        rs, "stamp",
        lambda spark: {"canary_sec": next(stamps), "band": "fast",
                       "rows": rs.CANARY_ROWS})
    calls = []

    def fn():
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("executor lost")
        return {"n": len(calls)}

    out = rs.gated(None, fn, max_attempts=3)
    assert len(calls) == 2  # no third attempt after the crash
    assert [a["result"] for a in out["attempts"]] == [{"n": 1}]
    assert out["result"] == {"n": 1}
    assert out["passed"] is False
    assert out["crash"]["attempt"] == 2
    assert "executor lost" in out["crash"]["exc"]
    # what a tool publishes: the stamps and the crash, no fn() results
    published = rs.regime(out)
    assert set(published) == {"attempts", "passed", "crash"}
    assert "result" not in published["attempts"][0]


def test_gated_reraises_a_crash_in_the_first_attempt(monkeypatch):
    monkeypatch.setattr(rs, "stamp", _fast)

    def fn():
        raise RuntimeError("bad plan")

    with pytest.raises(RuntimeError, match="bad plan"):
        rs.gated(None, fn)


def test_gated_without_require_calm_gates_on_drift_alone(monkeypatch):
    """bench's rule: a steady degraded window passes on drift (the band
    is published, not retried on); no crash key without a crash."""
    monkeypatch.setattr(
        rs, "stamp",
        lambda spark: {"canary_sec": 2.0, "band": "degraded",
                       "rows": rs.CANARY_ROWS})
    out = rs.gated(None, lambda: {}, require_calm=False)
    assert out["passed"] is True
    assert len(out["attempts"]) == 1 and out["attempts"][0]["calm"] is False
    assert "crash" not in out
    assert rs.GATE_PCT == 15.0
