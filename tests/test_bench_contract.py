"""The driver runs `python bench.py` and records its single JSON line —
if that contract breaks, the round loses its benchmark artifact. Smoke it
at sf0.001 via a real subprocess with the env override."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_bench(env: dict):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=1500,
    )


def test_bench_cli_contract(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_STREAM_BENCH"] = "small"  # keep the smoke fast
    env["SPARK_GRAFT_BENCH_RUNS"] = "2"  # v2 pays a JVM start per query
    # one warm-up instead of three — the contract under test is the
    # subprocess orchestration + JSON shape, not the timing plateau
    env["SPARK_GRAFT_BENCH_WARMUPS"] = "1"
    # v2 smoke subset: the contract shape (subprocess orchestration, JSON
    # lines, streaming) is identical per query, so two queries
    # bound the drive instead of 30 JVM starts
    env["SPARK_GRAFT_BENCH_QUERIES"] = "wordcount,fraud_alerts"
    # detail artifact (VERDICT r10 #3): subset runs write it only to an
    # explicit override path, never the repo-root round artifact
    detail_path = str(tmp_path / "BENCH_DETAIL_smoke.json")
    env["SPARK_GRAFT_BENCH_DETAIL"] = detail_path
    out = _run_bench(env)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    doc = json.loads(lines[-1])
    assert doc["metric"] == "headline_queries_total_wall"
    assert doc["unit"] == "sec" and doc["value"] > 0
    assert doc["sf"] == "0.001"
    assert doc["queries"]
    assert all(v >= 0 for v in doc["queries"].values())
    # the driver tail-captures 2000 chars and parses the LAST line: the
    # summary must survive that window with slack (BENCH_r05 parsed=null)
    assert len(lines[-1]) <= 1500, len(lines[-1])
    # per-query progress: bench.py prints each query's result to stderr
    # as soon as its subprocess returns, so a pass cut short by an outer
    # timeout still leaves a record of the queries it finished
    progress = [
        json.loads(ln) for ln in out.stderr.splitlines() if ln.startswith("{")
    ]
    assert [p["name"] for p in progress] == list(doc["queries"])
    assert all(p["min"] == doc["queries"][p["name"]] for p in progress)
    detail = json.loads(lines[-2])
    assert set(detail["rows"]) == set(doc["queries"])
    assert set(detail["queries_median"]) == set(doc["queries"])
    assert set(detail["queries_spread_pct"]) == set(doc["queries"])
    # noise-floor indicator on the PARSED line (VERDICT r9 #2): the
    # spread_pct array aligns with the queries key order. The median
    # array is DETAIL-ONLY since round 13 (ADVICE r12 budget
    # restructure): it must ride detail.queries_median and must NOT be
    # back on the summary line silently re-burning ~8 chars per row.
    assert "med" not in doc
    assert len(doc["spread_pct"]) == len(doc["queries"])
    for n in doc["queries"]:
        med = detail["queries_median"][n]
        # 2-decimal median never lands below the 3-decimal min by more
        # than the two rounding steps combined: min can round UP <=0.0005
        # and median DOWN <=0.005, so the legitimate worst-case gap is
        # 0.0055 (ADVICE r10: 0.005 could fail a correct run by ~0.0005)
        assert med >= doc["queries"][n] - 0.0055
    for n, sp in zip(doc["queries"], doc["spread_pct"]):
        assert sp == detail["queries_spread_pct"][n] and sp >= 0
    # every query is timed exactly SPARK_GRAFT_BENCH_RUNS times, so the
    # summary's `runs` is the real per-query sample count and the detail
    # carries no per-query run-count map; no box-state scalar rides along
    assert doc["runs"] == 2
    assert {k for k in detail if k.startswith("queries_")} == {
        "queries_median",
        "queries_spread_pct",
    }
    assert "cal" not in doc and "calibration" not in detail
    # streaming ev/s through the two stateful flagship paths
    for d in (detail["streaming"], doc["streaming"]):
        assert d["fraud_ev_s"] > 0 and d["cep_ev_s"] > 0
        # VERDICT r7 #5: the reference's "day of data in minutes" bar
        assert d["replay_day_s"] > 0
    assert detail["streaming"]["fraud_output_alerts"] > 0
    assert detail["streaming"]["cep_output_signals"] > 0
    assert detail["streaming"]["replay_output_signals"] > 0
    # round 11: per-run rate arrays (the streaming window's
    # inter-subprocess variance measured up to 1.6x; three aligned lows
    # mean a degraded window, not a regression)
    for k in ("fraud_ev_s_runs", "cep_ev_s_runs", "replay_day_s_runs"):
        arr = detail["streaming"][k]
        assert arr and all(v > 0 for v in arr), (k, arr)
    assert max(detail["streaming"]["fraud_ev_s_runs"]) == detail[
        "streaming"
    ]["fraud_ev_s"]
    # VERDICT r10 #3: the committed per-round artifact must carry the FULL
    # detail (the driver's 2000-char stdout tail truncated r10's detail
    # line mid-object) — bench.py writes it itself; everything the stdout
    # line carries must parse from the file, no reliance on prose notes
    with open(detail_path) as f:
        persisted = json.load(f)
    assert persisted["summary"] == doc
    assert persisted["detail"] == detail
    # the bench times queries and streams; the detail carries nothing else
    assert set(detail) == {"box", "queries_median", "queries_spread_pct",
                           "rows", "streaming", "schema_note"}


def test_bench_subset_skip_tail(tmp_path):
    """SPARK_GRAFT_STREAM_BENCH=skip with a query subset (round 13): the
    streaming subprocess is omitted — the fast path for a targeted batch
    probe — and the summary/detail shape stays parseable with an empty
    streaming section. A FULL run must never skip (the
    knob is honored only alongside SPARK_GRAFT_BENCH_QUERIES), which is
    why the guard lives on `subset` in bench.main."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_STREAM_BENCH"] = "skip"
    env["SPARK_GRAFT_BENCH_RUNS"] = "2"
    env["SPARK_GRAFT_BENCH_WARMUPS"] = "1"  # shape test, not a timing one
    env["SPARK_GRAFT_BENCH_QUERIES"] = "wordcount"
    detail_path = str(tmp_path / "BENCH_DETAIL_skip.json")
    env["SPARK_GRAFT_BENCH_DETAIL"] = detail_path
    out = _run_bench(env)
    assert out.returncode == 0, out.stderr[-2000:]
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["queries"] and doc["streaming"] == {}
    with open(detail_path) as f:
        detail = json.load(f)["detail"]
    assert detail["streaming"] == {}


def test_run_query_times_exactly_bench_runs_samples(monkeypatch):
    """A query gets exactly $SPARK_GRAFT_BENCH_RUNS timed noop writes
    after $SPARK_GRAFT_BENCH_WARMUPS warm-ups, however fast or noisy it
    is: the sample count never depends on the measurement."""
    from types import SimpleNamespace
    from unittest import mock

    import apache_flink_pratices_spark.registry as reg
    import apache_flink_pratices_spark.session as session
    from apache_flink_pratices_spark import bench_query

    fn = mock.MagicMock()
    df = fn.return_value
    df.count.return_value = 7
    monkeypatch.setattr(reg, "bench_specs", lambda: {"q": SimpleNamespace(fn=fn)})
    monkeypatch.setattr(session, "get_spark", lambda name: mock.MagicMock())
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "3")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WARMUPS", "2")
    out = bench_query._run_query("q")
    save = df.write.format.return_value.mode.return_value.save
    assert save.call_count == 2 + 3
    assert out["runs"] == 3 and out["rows"] == 7


def test_bench_detail_default_path(tmp_path, monkeypatch):
    """A full run (no SPARK_GRAFT_BENCH_DETAIL) writes its detail artifact
    to one fixed file, BENCH_DETAIL.json at the repo root."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert bench.REPO == REPO
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    bench._write_detail_artifact({"summary": {}})
    with open(tmp_path / "BENCH_DETAIL.json") as f:
        assert json.load(f) == {"summary": {}}


def test_bench_summary_line_budget():
    """Pin the format budget WITHOUT a bench run: the compact summary line
    for the current headline set, with worst-case float widths, must fit
    the driver's 2000-char tail capture with slack. Fails when newly
    bench=True queries push the set past the budget — restructure the
    summary (shorter names / split lines) at that point, not after a round
    artifact is lost."""
    from apache_flink_pratices_spark.registry import bench_specs

    names = list(bench_specs())
    assert names, "headline set must not be empty"
    worst = {
        "metric": "headline_queries_total_wall",
        "value": 9999.999,
        "unit": "sec",
        "sf": "0.001",
        "runs": 99,
        "queries": {n: 9999.999 for n in names},
        "spread_pct": [999 for _ in names],
        "streaming": {
            "fraud_ev_s": 99999999,
            "cep_ev_s": 99999999,
            "replay_day_s": 99999.9,
        },
    }
    line = json.dumps(worst, separators=(",", ":"))
    # Budget rationale: the driver captures 2000 chars and parses the LAST
    # line; 1600 worst-case (every min 9999.999 — real lines run shorter)
    # leaves 400 chars of hard slack. Since round 11 the full detail
    # rides its own BENCH_DETAIL.json, so the stdout tail
    # carries ONLY this summary. Round 13 restructured per ADVICE r12
    # instead of raising again: the per-query `med` array moved to the
    # detail artifact (detail.queries_median — the comparator flags on
    # min+spread only), buying ~8 chars per headline row back and
    # funding this round's new rows inside a LOWERED 1700 -> 1600
    # budget. The next growth pressure should restructure again (e.g.
    # spread_pct as one worst-query scalar), never raise past 1700.
    assert len(line) <= 1600, (len(line), "compact summary over budget")


def test_bench_order_is_registration_order_not_rotation():
    """The bench runs its headline queries in registration order, not in
    ``all_specs()``'s CRITICAL-first order, so the artifact layout stays
    put when the anchor set changes."""
    from apache_flink_pratices_spark.registry import _REGISTRY, bench_specs

    assert list(bench_specs()) == [n for n, s in _REGISTRY.items() if s.bench]


def test_box_context_fields():
    """_box_context must carry cpu count plus (on linux) loadavg and
    uptime, and never raise."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod2", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    ctx = bench._box_context()
    assert ctx["cpus"] >= 1
    assert "loadavg_start" in ctx and len(ctx["loadavg_start"]) == 3
    assert ctx["uptime_s"] > 0


def test_bench_rejects_arguments():
    """`python bench.py --help` (or any stray arg) must exit with usage,
    never silently launch a full ~15-minute run."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--help"],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=REPO,
    )
    assert out.returncode != 0
    assert "takes no arguments" in out.stderr


def test_subprocess_json_names_a_non_json_result():
    """A bench subprocess that exits 0 but whose last stdout line is not
    JSON fails with what it printed, not a bare JSONDecodeError."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    child = [
        "-c",
        "import sys; print('{\"ok\": 1}'); print('trailing note'); "
        "print('worker warning', file=sys.stderr)",
    ]
    with pytest.raises(RuntimeError) as err:
        bench._subprocess_json(child, "streaming", timeout=60)
    msg = str(err.value)
    assert "streaming" in msg and "exit 0" in msg
    assert "trailing note" in msg and "worker warning" in msg
    assert bench._subprocess_json(["-c", "print('{}')"], "probe", timeout=60) == {}
