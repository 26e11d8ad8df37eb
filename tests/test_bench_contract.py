"""The driver runs `python bench.py` and records its single JSON line —
if that contract breaks, the round loses its benchmark artifact. Smoke it
at sf0.001 via a real subprocess with the env override."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --- background bench drives (r15, VERDICT r14 #5) ----------------------
# The two bench.py CLI drives below are the suite's largest lines (~470 s
# + ~60 s of a ~30-minute serial wall) and print NOTHING while they run —
# the driver's r14 verify window died exactly there (VERIFY_r14's
# test_tail ends at the test collected immediately before the full
# drive). tests/conftest.py starts both subprocesses in background
# threads once collection has finished and moves the two joining tests
# to the END of the session, so the drives overlap the serial suite
# instead of adding two silent multi-minute gaps. This is safe because
# the drives are sf0.001/local[4] SHAPE checks: no assertion in this
# file reads a timing magnitude (spread/median relations are pure
# arithmetic identities of the emitted JSON), the wall-clock-gated
# modules wait for the drives to exit, and the drives write only under
# their own tempdir. Running this file (or one test) alone still works:
# the conftest hook launches whatever subset was selected.


class _Drive:
    """One background bench.py subprocess + the thread that reaps it."""

    def __init__(self, fn):
        self.fn = fn
        self.proc = None
        self.killed = False
        self.lock = threading.Lock()
        #: detail directories the drive created; removed at session end
        self.tmpdirs: list[str] = []
        self.result = None
        self.error = None
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self):
        try:
            self.result = self.fn(self)
        except BaseException as e:  # noqa: BLE001 — re-raised in join()
            self.error = e

    def join(self):
        self.thread.join(timeout=1800)
        if self.thread.is_alive():
            self.kill()
            raise TimeoutError("bench drive did not finish within 1800 s")
        if self.error is not None:
            raise self.error
        return self.result

    def kill(self):
        # the flag covers a kill that lands before Popen returned:
        # attach() then kills the new process itself
        with self.lock:
            self.killed = True
            p = self.proc
        if p is not None and p.poll() is None:
            p.kill()

    def attach(self, p):
        with self.lock:
            self.proc = p
            killed = self.killed
        if killed:
            p.kill()

    def mkdtemp(self, prefix):
        d = tempfile.mkdtemp(prefix=prefix)
        self.tmpdirs.append(d)
        return d


_DRIVES: dict[str, _Drive] = {}


def launch_drives(names):
    """Called by tests/conftest.py once collection (and -k/-m
    deselection) has finished, for the selected drive tests; idempotent
    per name."""
    fns = {"full": _drive_full, "skip": _drive_skip}
    for name in names:
        if name not in _DRIVES:
            _DRIVES[name] = _Drive(fns[name])


def wait_for_drives():
    """Block until every launched drive has exited. Called before the
    wall-clock-gated tests so they never time a gate beside a bench JVM;
    a drive's result or error is left for its joining test to assert."""
    for d in _DRIVES.values():
        d.thread.join(timeout=1800)


def kill_stray_drives():
    """Session-finish safety net: never leave an orphan bench JVM burning
    CPU after pytest exits (e.g. -x aborted the run before the join),
    and never leave their detail directories behind."""
    for d in _DRIVES.values():
        d.kill()
        for t in d.tmpdirs:
            shutil.rmtree(t, ignore_errors=True)


def _join(name, fn):
    if name not in _DRIVES:  # collected without the conftest hook
        _DRIVES[name] = _Drive(fn)
    return _DRIVES[name].join()


def _run_bench(drive: _Drive, env: dict):
    p = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "bench.py")],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
        cwd=REPO,
    )
    drive.attach(p)
    try:
        stdout, stderr = p.communicate(timeout=1500)
    except subprocess.TimeoutExpired:
        p.kill()
        raise
    return subprocess.CompletedProcess(p.args, p.returncode, stdout, stderr)


def _drive_full(drive: _Drive):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_STREAM_BENCH"] = "small"  # keep the smoke fast
    env["SPARK_GRAFT_BENCH_RUNS"] = "2"  # v2 pays a JVM start per query
    # r15 (VERDICT r14 #5: the suite must fit the driver's verify
    # window; this test was its single largest line at ~620 s): one
    # warm-up instead of three — the contract under test is the
    # subprocess orchestration + JSON shape, not the timing plateau —
    # and the smoke-scale knob shrinks the untimed planted evidence
    # corpora (the driver's own full runs set neither, so committed
    # round artifacts are untouched).
    env["SPARK_GRAFT_BENCH_WARMUPS"] = "1"
    env["SPARK_GRAFT_EXTRAS_SCALE"] = "small"
    # v2 smoke subset: the contract shape (subprocess orchestration, JSON
    # lines, extras, streaming) is identical per query, so two queries
    # bound the drive instead of 30 JVM starts
    env["SPARK_GRAFT_BENCH_QUERIES"] = "wordcount,fraud_alerts"
    # detail artifact (VERDICT r10 #3): subset runs write it only to an
    # explicit override path, never the repo-root round artifact
    detail_path = os.path.join(
        drive.mkdtemp("afp_bench_full_"), "BENCH_DETAIL_smoke.json"
    )
    env["SPARK_GRAFT_BENCH_DETAIL"] = detail_path
    return _run_bench(drive, env), detail_path


def test_bench_cli_contract():
    out, detail_path = _join("full", _drive_full)
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
    # round-7 scale-evidence extras: measured LSH pruning on the planted
    # clusters, and streaming ev/s through the two stateful flagship paths
    assert 0 < detail["ann_lsh_clustered_candidate_fraction"] < 0.2
    # round-13 trained-IVF evidence (VERDICT r12 #4): the kmeans codebook
    # must match-or-beat the hash-grid stand-in on the planted clusters
    tr = detail["ann_ivf_trained_recall"]
    assert tr["trained"]["recall"] >= tr["hash_grid"]["recall"]
    assert tr["trained"]["recall"] >= 0.9
    assert 0 < tr["trained"]["candidate_fraction"] < 0.75
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
    # VERDICT r11 #5: bloom decon measured on the planted low-overlap
    # corpus — candidate_fraction ~ overlap + FPR, no false negatives
    lo = detail["decontaminate_bloom_lowoverlap"]
    assert lo["false_negatives"] == 0
    assert lo["planted_rows"] <= lo["bloom_positive_rows"]
    assert lo["candidate_fraction"] < 0.05
    # VERDICT r12 #6: the planted wide-vocab pipeline row — every stage
    # must keep AND remove rows (the helper itself asserts the full
    # non-degeneracy contract; re-check the load-bearing facts here)
    pp = detail["corpus_pipeline_planted"]
    assert 0 < pp["n_survivors"] < pp["n_docs"]
    assert pp["n_decon_dirty"] > 0 and pp["n_packed_rows"] > 0
    assert pp["planned_tokens_total"] > 0 and pp["wall_s"] > 0
    # VERDICT r7 #4: measured above-cap hot-bucket guard evidence
    hg = detail["hot_bucket_guard"]
    assert hg["pairs"] > 0 and hg["wall_s"] > 0
    # VERDICT r8 #3: measured above-cap recall classes + wedge rescue
    hr = detail["hot_bucket_recall"]
    assert hr["het"]["wedge"]["rescued"] == 1.0
    assert hr["mass"]["in_mass"]["component"] == 1.0
    assert hg["pairs"] < hg["unguarded_boiler_pairs"]
    # VERDICT r10 #3: the committed per-round artifact must carry the FULL
    # detail (the driver's 2000-char stdout tail truncated r10's detail
    # line mid-object) — bench.py writes it itself; everything the stdout
    # line carries must parse from the file, no reliance on prose notes
    with open(detail_path) as f:
        persisted = json.load(f)
    assert persisted["summary"] == doc
    assert persisted["detail"] == detail
    assert "ann_lsh_clustered_candidate_fraction" in persisted["detail"]


def _drive_skip(drive: _Drive):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_STREAM_BENCH"] = "skip"
    env["SPARK_GRAFT_BENCH_RUNS"] = "2"
    env["SPARK_GRAFT_BENCH_WARMUPS"] = "1"  # shape test, not a timing one
    env["SPARK_GRAFT_BENCH_QUERIES"] = "wordcount"
    detail_path = os.path.join(
        drive.mkdtemp("afp_bench_skip_"), "BENCH_DETAIL_skip.json"
    )
    env["SPARK_GRAFT_BENCH_DETAIL"] = detail_path
    return _run_bench(drive, env), detail_path


def test_bench_subset_skip_tail():
    """SPARK_GRAFT_STREAM_BENCH=skip with a query subset (round 13): the
    extras and streaming subprocesses are omitted — the fast path for a
    targeted batch probe — and the summary/detail shape stays parseable
    with an empty streaming section. A FULL run must never skip (the
    knob is honored only alongside SPARK_GRAFT_BENCH_QUERIES), which is
    why the guard lives on `subset` in bench.main."""
    out, detail_path = _join("skip", _drive_skip)
    assert out.returncode == 0, out.stderr[-2000:]
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["queries"] and doc["streaming"] == {}
    with open(detail_path) as f:
        detail = json.load(f)["detail"]
    assert detail["streaming"] == {}
    assert "ann_lsh_clustered_candidate_fraction" not in detail


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


def test_bench_detail_round_derivation(monkeypatch):
    """The round-artifact name derives from the newest committed
    BENCH_r{N} (+1), overridable via SPARK_GRAFT_ROUND."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    import glob
    import re

    newest = max(
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    )
    assert bench._detail_round() == newest + 1
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "33")
    assert bench._detail_round() == 33


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
    # rides its own committed BENCH_DETAIL_r{N}.json, so the stdout tail
    # carries ONLY this summary. Round 13 restructured per ADVICE r12
    # instead of raising again: the per-query `med` array moved to the
    # detail artifact (detail.queries_median — the comparator flags on
    # min+spread only), buying ~8 chars per headline row back and
    # funding this round's new rows inside a LOWERED 1700 -> 1600
    # budget. The next growth pressure should restructure again (e.g.
    # spread_pct as one worst-query scalar), never raise past 1700.
    assert len(line) <= 1600, (len(line), "compact summary over budget")


def test_bench_order_is_registration_order_not_rotation(tmp_path, monkeypatch):
    """Bench timings are position-in-session sensitive (JIT warm-up:
    the same plan measures ~1.4x slower as the 2nd query of a session
    than the 20th), so the bench sequence must be IMMUTABLE across
    rounds — in particular it must not move when the driver's
    CORRECTNESS files rotate the correctness-gate ordering
    (the r3->r5 fraud_alerts 'regression' was exactly this)."""
    import json as _json

    import apache_flink_pratices_spark.registry as reg

    baseline = list(reg.bench_specs())
    # simulate a wildly different check history: every bench query green
    # last round except one
    rows = {n: {"rows_match": True, "schema_match": True, "hash_match": True,
                "spark_rows": 1, "oracle_rows": 1, "err": None}
            for n in baseline[:-1]}
    (tmp_path / "CORRECTNESS_r09.json").write_text(_json.dumps(rows))
    monkeypatch.setattr(reg, "_REPO_ROOT", str(tmp_path))
    assert list(reg.bench_specs()) == baseline
    # while the gate ordering DID change under the same history
    gate = list(reg.all_specs())
    assert gate != baseline or len(gate) != len(baseline)


def test_stream_rate_functions_refuse_prebuilt_input_without_count():
    """A prebuilt in_dir without its row count must fail fast with a
    clear error, not report a rate with a stale/default denominator
    (review r7: the denominator travels WITH the prepared input)."""
    import pytest

    from apache_flink_pratices_spark.streaming.bench_streams import (
        cep_events_per_sec,
        fraud_events_per_sec,
        replay_day_seconds,
    )

    with pytest.raises(ValueError, match="n_rows"):
        fraud_events_per_sec(None, "wd", in_dir="prebuilt")
    with pytest.raises(ValueError, match="n_rows"):
        cep_events_per_sec(None, "wd", in_dir="prebuilt")
    with pytest.raises(ValueError, match="n_rows"):
        replay_day_seconds(None, "wd", in_dir="prebuilt")


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
