"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Harness v2 (round 9, VERDICT r8 #2): EVERY headline query is measured in
its own fresh subprocess engine (`apache_flink_pratices_spark/
bench_query.py`), the pattern the streaming section proved in round 8.
The round-8 shared-session harness accumulated heap/JIT/session debris
that inflated later queries' minima by 20-50 % with zero code change
(docs/scale_notes.md rounds 7-8 name the mechanism and the r9 notes
carry the old->new re-baseline table); v2 numbers are fresh-session
isolation numbers, so round-over-round deltas are attributable to code
again. This process stays Spark-free and just orchestrates subprocesses
sequentially (never in parallel: concurrent local[32] JVMs contend and
inflate every number ~3x).

Output contract (VERDICT r5 #1 — the driver captures only the LAST 2000
chars of stdout and parses the last line, so the final line must stay
compact): two JSON lines are printed —

1. a verbose detail line: per-query medians ("queries_median", the
   box-noise indicator), sanity row counts ("rows"), the scale-evidence
   extras, the streaming section and a schema note naming the harness
   version;
2. the COMPACT summary line, LAST: {"metric", "value" (sum of mins),
   "unit", "sf", "runs", "queries" (per-query MIN, 3-decimal floats,
   no spaces), "spread_pct" (per-query 100*(max-min)/min, an ARRAY
   aligned with the "queries" key order — the noise-floor indicator,
   VERDICT r9 #2; the comparator conditions flags on it)}. The per-query
   MEDIAN array moved to the detail artifact in round 13 (ADVICE r12:
   each headline row cost ~8 summary chars it never used — the
   comparator flags on min+spread, medians are a detail-level signal).
   tests/test_bench_contract.py pins its length budget.

Since round 11 (VERDICT r10 #3: the driver's 2000-char stdout tail
truncated the r10 detail line mid-object), the full {"detail", "summary"}
payload is ALSO written to ``BENCH_DETAIL_r{N}.json`` at the repo root —
the committed machine-readable record of the scale evidence. N = newest
committed BENCH_r{N} + 1 (override: SPARK_GRAFT_ROUND); smoke runs with a
query subset write only to SPARK_GRAFT_BENCH_DETAIL, if set.

Each query runs exactly $SPARK_GRAFT_BENCH_RUNS times (default 4) after
$SPARK_GRAFT_BENCH_WARMUPS (default 3) untimed warm-up executions in its
subprocess, so the summary's ``runs`` is every query's real sample count;
the min is the best estimate of the plan's cost on this box. Timing is a
noop-format write — count() lets Catalyst skip computing final
projections, which made round-1 numbers up to 10x optimistic.

SPARK_GRAFT_STREAM_BENCH: "small" shrinks the streaming corpora;
"skip" (honored ONLY together with a SPARK_GRAFT_BENCH_QUERIES subset,
so a full round artifact always carries the extras + streaming
sections) omits the extras and streaming subprocesses entirely — the
fast path for a targeted batch-query probe, which otherwise pays the
several-minute streaming tail it never reads (round 13).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))


def _subprocess_json(args: list[str], what: str, timeout: int = 1800) -> dict:
    """Run a bench subprocess and parse its single stdout JSON line."""
    sp = subprocess.run(
        [sys.executable, *args],
        capture_output=True,
        text=True,
        env=dict(os.environ),
        cwd=REPO,
        timeout=timeout,
    )
    if sp.returncode != 0:
        raise RuntimeError(f"{what} subprocess failed:\n{sp.stderr[-2000:]}")
    return json.loads(sp.stdout.strip().splitlines()[-1])


def main() -> None:
    # no positional args by design (the driver invokes `python bench.py`
    # bare; configuration is env-only) — but an unknown arg like --help
    # must not silently launch a ~15-minute full run
    if sys.argv[1:]:
        raise SystemExit(
            "bench.py takes no arguments; configure via env "
            "(SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS, "
            "SPARK_GRAFT_BENCH_WARMUPS, SPARK_GRAFT_BENCH_QUERIES, "
            "SPARK_GRAFT_BENCH_DETAIL, SPARK_GRAFT_ROUND, "
            "SPARK_GRAFT_STREAM_BENCH). See the module docstring."
        )
    # fail fast on a malformed round override — BEFORE the ~15-minute
    # measurement, not in the artifact write after it (ADVICE r11)
    rnd_env = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd_env and not rnd_env.isdigit():
        raise SystemExit(
            f"SPARK_GRAFT_ROUND must be a plain integer, got {rnd_env!r}"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # registry import runs no Spark; REGISTRATION order kept for a stable,
    # diffable artifact layout (position no longer affects timing in v2)
    from apache_flink_pratices_spark.registry import bench_specs

    names = list(bench_specs())
    # smoke-only knob (tests/test_bench_contract.py): a comma-separated
    # subset keeps the pytest contract drive bounded — v2 pays a ~20 s
    # JVM start per query, so a full 30-query pass is a driver-scale run,
    # not a unit test. The driver sets no subset and measures everything.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        picked = [s.strip() for s in subset.split(",") if s.strip()]
        unknown = [n for n in picked if n not in names]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_QUERIES unknown: {unknown}")
        names = picked

    # box context captured BEFORE any measurement: until round 12 it was
    # evaluated when the detail dict was built — after every query — so
    # `loadavg_start` actually recorded END-of-run load (the bench's own
    # residue), which is why all three r12 runs show ~8 regardless of
    # the idle/loaded state they started in
    box = _box_context()

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in names:
        r = _subprocess_json(
            ["-m", "apache_flink_pratices_spark.bench_query", name],
            f"bench query {name}",
        )
        timings[name] = r["min"]
        medians[name] = r["median"]
        spreads[name] = r["spread_pct"]
        rows[name] = r["rows"]

    # "skip" is honored only in subset mode: the round's real artifact
    # (a full run) must always carry the extras + streaming sections
    skip_tail = bool(subset) and (
        os.environ.get("SPARK_GRAFT_STREAM_BENCH") == "skip"
    )

    # --- scale-evidence extras (untimed, own fresh session) --------------
    # measured LSH pruning on the planted-cluster corpus (VERDICT r6 #5)
    # and the above-cap hot-bucket guard at sf0.1 (VERDICT r7 #4)
    extras = {} if skip_tail else _subprocess_json(
        ["-m", "apache_flink_pratices_spark.bench_query", "--extras"],
        "bench extras",
    )

    # --- streaming events/sec through the flagship stateful paths --------
    # (VERDICT r6 #6) in a fresh engine. Nothing else runs concurrently.
    if skip_tail:
        stream_detail: dict = {}
        streaming: dict = {}
    else:
        stream_detail = _subprocess_json(
            ["-m", "apache_flink_pratices_spark.streaming.bench_streams"],
            "streaming bench",
        )
        streaming = {
            "fraud_ev_s": stream_detail["fraud_ev_s"],
            "cep_ev_s": stream_detail["cep_ev_s"],
            # extrapolated seconds to replay a 24h 8-market day through
            # the real signal path (the reference's "day of data in
            # minutes" bar)
            "replay_day_s": stream_detail["replay_day_s"],
        }
        for k in ("fraud_output_alerts", "cep_output_signals",
                  "replay_output_signals"):
            if stream_detail[k] <= 0:
                raise RuntimeError(
                    f"streaming bench produced no output: {k}=0"
                )

    detail = {
        # box context (round 11): four same-code full-bench runs this
        # session spread 30.1-34.1 s total, and the box had REBOOTED
        # between the r10 and r11 measurements — cross-round deltas need
        # the machine state on record to be conditioned on it. Captured
        # at bench START since round 12 (see note in main()); the
        # end-of-run load lands alongside for the drift signal.
        # loadavg_end only when the platform measures load at all — a
        # null would read as a recorded zero-information value where the
        # field is simply unavailable (round-12 self-review)
        "box": {
            **box,
            **(
                {"loadavg_end": end_load}
                if (end_load := _box_context().get("loadavg_start")) is not None
                else {}
            ),
        },
        "queries_median": medians,
        "queries_spread_pct": spreads,
        "rows": rows,
        **extras,
        "streaming": stream_detail,
        "schema_note": (
            "harness v2.2: each query timed in its OWN fresh "
            "subprocess engine — min/median/spread over exactly `runs` "
            "noop-write executions per query after 3 untimed "
            "warm-up runs (cache cleared + GC between runs); the summary "
            "`spread_pct` array aligns with the `queries` key order "
            "(spread_pct = 100*(max-min)/min — deltas under a query's "
            "spread are box noise, not code; VERDICT r9 #2); per-query "
            "medians are detail.queries_median only since r13 (ADVICE "
            "r12 summary-budget restructure). r9 used one "
            "warm-up; r8 and earlier one shared session for all queries "
            "(docs/scale_notes.md re-baseline tables)"
        ),
    }
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "runs": n_runs,
        "queries": timings,
        # per-query run-to-run spread (%), aligned with the `queries`
        # key order — an array, not a dict, to stay inside the driver's
        # 2000-char tail capture (VERDICT r9 #2: without a noise
        # indicator on the PARSED line, a ±40% sub-second delta cannot
        # be told from a regression). Medians ride detail.queries_median
        # only since round 13 (ADVICE r12 summary-budget restructure).
        "spread_pct": [spreads[n] for n in names],
        # streaming ev/s repeated on the summary line: the driver may only
        # capture the LAST line, and the metric must land in BENCH_r{N}
        "streaming": streaming,
    }
    print(json.dumps(detail))
    # The driver keeps only the LAST ~2000 chars of stdout, which
    # truncated the r10 detail line mid-object (VERDICT r10 #3) — so the
    # bench persists its own full-detail artifact, committed per round.
    # Round = newest committed BENCH_r{N} + 1 (the driver writes
    # BENCH_r{N} at the END of round N); SPARK_GRAFT_ROUND overrides.
    # Subset smoke runs (the pytest contract drive) must not overwrite
    # the round's real artifact: they write to SPARK_GRAFT_BENCH_DETAIL
    # if set, else skip.
    override = os.environ.get("SPARK_GRAFT_BENCH_DETAIL")
    if override or not subset:
        _write_detail_artifact({"detail": detail, "summary": summary}, override)
    # LAST line, compact separators: must fit (with slack) inside the
    # driver's 2000-char stdout tail capture or the round loses its
    # benchmark artifact (BENCH_r05 parsed=null).
    print(json.dumps(summary, separators=(",", ":")))


def _box_context() -> dict:
    """Machine state at bench start: what a cross-round comparison must
    condition on (best-effort; absent fields mean the platform lacks
    them, never a failed bench)."""
    ctx: dict = {"cpus": os.cpu_count()}
    try:
        ctx["loadavg_start"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/uptime") as f:
            ctx["uptime_s"] = round(float(f.read().split()[0]), 1)
    except (OSError, ValueError):
        pass
    return ctx


def _detail_round() -> int:
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        # a malformed override (e.g. 'r12') must not crash the bench
        # AFTER the ~15-minute measurement already ran and lose the
        # detail artifact — fall back to the glob derivation with a
        # warning instead (ADVICE r11). Validated again up front in
        # main() so interactive misuse still fails before the timed run.
        try:
            return int(env)
        except ValueError:
            print(
                f"WARNING: ignoring non-numeric SPARK_GRAFT_ROUND={env!r}; "
                "deriving the round from committed BENCH_r*.json instead",
                file=sys.stderr,
            )
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def _write_detail_artifact(payload: dict, path: str | None = None) -> None:
    path = path or os.path.join(
        REPO, f"BENCH_DETAIL_r{_detail_round():02d}.json"
    )
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
