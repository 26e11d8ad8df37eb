"""tools/bench_compare.py: spread-aware round-over-round comparison —
pure JSON munging, no Spark."""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench_compare  # noqa: E402


def _summary(queries, spreads, total=None):
    return {
        "metric": "headline_queries_total_wall",
        "value": total if total is not None else sum(queries.values()),
        "queries": queries,
        "spread_pct": spreads,
    }


def test_flags_only_beyond_both_spread_and_floor():
    old = _summary({"a": 1.0, "b": 1.0, "c": 1.0}, [5, 5, 5])
    # a: +60% (beyond 5% spread and 25% floor) -> regression
    # b: +20% (beyond spread, under floor)     -> within-noise
    # c: -50%                                   -> improvement
    new = _summary({"a": 1.6, "b": 1.2, "c": 0.5}, [5, 5, 5])
    out = bench_compare.compare(old, new, floor_pct=25.0)
    status = {r["query"]: r["status"] for r in out["rows"]}
    assert status == {"a": "REGRESSION", "b": "within-noise", "c": "improvement"}
    assert [r["query"] for r in out["regressions"]] == ["a"]


def test_spread_wider_than_floor_wins():
    old = _summary({"a": 1.0}, [80])
    new = _summary({"a": 1.6}, [10])  # +60% but old spread was 80%
    out = bench_compare.compare(old, new, floor_pct=25.0)
    assert out["rows"][0]["status"] == "within-noise"


def test_new_and_removed_queries_reported():
    old = _summary({"a": 1.0, "gone": 2.0}, [5, 5])
    new = _summary({"a": 1.0, "fresh": 3.0}, [5, 5])
    out = bench_compare.compare(old, new, floor_pct=25.0)
    status = {r["query"]: r["status"] for r in out["rows"]}
    assert status["fresh"] == "new" and status["gone"] == "removed"


def test_corrupt_old_timing_is_surfaced_not_dropped():
    # a zeroed old entry must emit a row (ADVICE r11), never vanish
    old = _summary({"a": 0.0, "b": 1.0}, [5, 5])
    new = _summary({"a": 1.0, "b": 1.0}, [5, 5])
    out = bench_compare.compare(old, new, floor_pct=25.0)
    status = {r["query"]: r["status"] for r in out["rows"]}
    assert status["a"] == "unmeasurable-old"
    assert status["b"] == "within-noise"


def test_corrupt_new_timing_is_not_an_improvement():
    # symmetric guard (round-12 self-review): a zeroed NEW entry must
    # not be celebrated as a -100% improvement
    old = _summary({"a": 1.0}, [5])
    new = _summary({"a": 0.0}, [5])
    out = bench_compare.compare(old, new, floor_pct=25.0)
    assert out["rows"][0]["status"] == "unmeasurable-new"
    assert out["improvements"] == []


def test_legacy_cal_field_does_not_condition_flags(tmp_path, capsys):
    """Artifacts from before the raw-delta comparator still carry a `cal`
    scalar. It must be ignored: with the r14 -> r15 values (1.078 ->
    0.689) a -3% query used to be divided by the 0.639 ratio and flagged
    as a +51.8% REGRESSION; on the raw delta it is within noise."""
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"parsed": dict(_summary({"a": 1.0}, [5]), cal=1.078)}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps({"parsed": dict(_summary({"a": 0.97}, [5]), cal=0.689)}))
    assert bench_compare.main([str(old), str(new)]) == 0
    text = capsys.readouterr().out
    assert "REGRESSION" not in text
    assert "within-noise" in text and "-3.0%" in text
    assert "0 flagged regression(s)" in text


def test_load_summary_accepts_both_artifact_shapes(tmp_path):
    s = _summary({"a": 1.0}, [5])
    driver = tmp_path / "BENCH_r10.json"
    driver.write_text(json.dumps({"n": 10, "parsed": s}))
    detail = tmp_path / "BENCH_DETAIL_r11.json"
    detail.write_text(json.dumps({"summary": s, "detail": {}}))
    bare = tmp_path / "bare.json"
    bare.write_text(json.dumps(s))
    for p in (driver, detail, bare):
        assert bench_compare.load_summary(str(p))["queries"] == {"a": 1.0}
    with pytest.raises(ValueError, match="no summary"):
        junk = tmp_path / "junk.json"
        junk.write_text(json.dumps({"x": 1}))
        bench_compare.load_summary(str(junk))


def test_cli_exit_codes(tmp_path, capsys):
    old = tmp_path / "old.json"
    old.write_text(json.dumps(_summary({"a": 1.0}, [5])))
    flat = tmp_path / "flat.json"
    flat.write_text(json.dumps(_summary({"a": 1.05}, [5])))
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps(_summary({"a": 2.0}, [5])))
    assert bench_compare.main([str(old), str(flat)]) == 0
    assert bench_compare.main([str(old), str(bad)]) == 1
    text = capsys.readouterr().out
    assert "REGRESSION" in text and "1 flagged regression(s)" in text


def test_real_round_artifacts_parse():
    """The committed r10 driver artifact must load (the comparator is for
    exactly these files)."""
    s = bench_compare.load_summary(os.path.join(REPO, "BENCH_r10.json"))
    assert s["queries"] and len(s["spread_pct"]) == len(s["queries"])


def test_load_box_from_detail_artifact(tmp_path):
    s = _summary({"a": 1.0}, [5])
    with_box = tmp_path / "BENCH_DETAIL_r12.json"
    with_box.write_text(
        json.dumps({"summary": s, "detail": {"box": {"cpus": 32, "uptime_s": 9.1}}})
    )
    without = tmp_path / "BENCH_r10.json"
    without.write_text(json.dumps({"parsed": s}))
    assert bench_compare.load_box(str(with_box)) == {"cpus": 32, "uptime_s": 9.1}
    assert bench_compare.load_box(str(without)) is None


def _stream_summary(fraud, cep, replay):
    return {"streaming": {"fraud_ev_s": fraud, "cep_ev_s": cep,
                          "replay_day_s": replay}}


def test_streaming_orientation_rates_fall_times_rise():
    """A rate REGRESSES when it falls; a time when it rises (VERDICT
    r12 #5) — both beyond the floor here."""
    old = _stream_summary(50000, 45000, 170.0)
    new = _stream_summary(30000, 60000, 250.0)  # fraud -40%, cep +33%, replay +47%
    out = bench_compare.compare_streaming(
        old, new, floor_pct=25.0, stream_floor_pct=25.0
    )
    status = {r["metric"]: r["status"] for r in out["rows"]}
    assert status == {
        "fraud_ev_s": "REGRESSION",
        "cep_ev_s": "improvement",
        "replay_day_s": "REGRESSION",
    }
    assert len(out["regressions"]) == 2


def test_streaming_default_floor_absorbs_subprocess_variance():
    """ADVICE r13: identical-code streaming runs vary up to 1.6x between
    subprocesses, so the default streaming floor is max(batch floor, 60%)
    — a -37% rate move (inside 1.6x) must NOT flag under the default,
    while an explicit --stream-floor-pct override restores tighter
    gating, and a genuine beyond-1.6x collapse still flags."""
    old = _stream_summary(50000, 45000, 170.0)
    new = _stream_summary(31500, 45000, 170.0)  # fraud -37%
    out = bench_compare.compare_streaming(old, new, floor_pct=25.0)
    rows = {r["metric"]: r for r in out["rows"]}
    assert rows["fraud_ev_s"]["status"] == "within-noise"
    assert rows["fraud_ev_s"]["noise_pct"] == 60.0
    assert out["regressions"] == []
    # explicit override: same move flags at a 25% streaming floor
    tight = bench_compare.compare_streaming(
        old, new, floor_pct=25.0, stream_floor_pct=25.0
    )
    assert {r["metric"] for r in tight["regressions"]} == {"fraud_ev_s"}
    # a genuine collapse (-70%, beyond the measured 1.6x) still flags
    crash = bench_compare.compare_streaming(
        old, _stream_summary(15000, 45000, 170.0), floor_pct=25.0
    )
    assert {r["metric"] for r in crash["regressions"]} == {"fraud_ev_s"}


def test_streaming_missing_or_zero_sides_never_flag():
    out = bench_compare.compare_streaming(
        {"streaming": {"fraud_ev_s": 0, "cep_ev_s": 1000}},
        {"streaming": {"fraud_ev_s": 50000, "cep_ev_s": 0,
                       "replay_day_s": 100.0}},
        floor_pct=25.0,
    )
    status = {r["metric"]: r["status"] for r in out["rows"]}
    assert status == {
        "fraud_ev_s": "new",  # old side unmeasurable -> treated as new
        "cep_ev_s": "unmeasurable-new",
        "replay_day_s": "new",
    }
    assert out["regressions"] == []
