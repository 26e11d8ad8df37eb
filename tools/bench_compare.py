"""Spread-aware bench-artifact comparator.

Round-over-round per-query deltas are only meaningful against the noise
floor the harness measured (summary ``spread_pct``, VERDICT r9 #2) and
the inter-session variance the rollup A/B quantified (±25% on identical
code for ramp-heavy queries — docs/scale_notes.md round 11). This tool
folds both in, so a round review starts from a short list of
ATTRIBUTABLE movers instead of eyeballing 31 floats:

  python tools/bench_compare.py BENCH_r10.json BENCH_DETAIL_r11.json

Accepts either artifact shape per side: a driver ``BENCH_r{N}.json``
(``{"parsed": summary}``) or a bench-written ``BENCH_DETAIL_r{N}.json``
(``{"summary": ..., "detail": ...}``).

A query is flagged only when |delta| exceeds BOTH sides' measured
spread_pct AND the inter-session floor (default 25%, tune with
--floor-pct). Everything else prints as within-noise. Exit code 1 when
any regression is flagged (CI-friendly); 0 otherwise.
"""

from __future__ import annotations

import argparse
import json
import sys


def load_summary(path: str) -> dict:
    """The compact summary dict from either artifact shape."""
    with open(path) as f:
        doc = json.load(f)
    if "summary" in doc and isinstance(doc["summary"], dict):
        return doc["summary"]
    if "parsed" in doc and isinstance(doc["parsed"], dict):
        return doc["parsed"]
    if "queries" in doc:  # a bare summary line saved as a file
        return doc
    raise ValueError(f"{path}: no summary payload found")


def load_box(path: str) -> dict | None:
    """detail.box (uptime / load average at bench start), when the
    artifact carries it — BENCH_DETAIL_r11+ does; driver BENCH_r{N}
    stdout tails don't."""
    with open(path) as f:
        doc = json.load(f)
    detail = doc.get("detail")
    if isinstance(detail, dict):
        return detail.get("box")
    return None


def spread_map(summary: dict) -> dict[str, float]:
    """query -> measured spread_pct (aligned arrays on the summary line);
    missing spread data degrades to 0 (flag on the floor alone)."""
    names = list(summary.get("queries", {}))
    spreads = summary.get("spread_pct") or []
    return {n: float(s) for n, s in zip(names, spreads)}


#: streaming summary metrics: name -> orientation. A rate (ev/s)
#: regresses when it falls, a time (replay seconds) when it rises.
STREAM_METRICS = (
    ("fraud_ev_s", "rate"),
    ("cep_ev_s", "rate"),
    ("replay_day_s", "time"),
)


#: Streaming-specific noise floor: the streaming window's
#: inter-subprocess variance was measured up to 1.6x (+60%) on identical
#: code (module docstring / docs/scale_notes.md), so gating streaming
#: rows on the batch 25% floor produced false REGRESSION flags (and CI
#: exit 1) on identical-code rounds (ADVICE r13). The effective floor is
#: max(batch floor, this) unless --stream-floor-pct overrides it.
STREAM_FLOOR_PCT = 60.0


def compare_streaming(
    old: dict,
    new: dict,
    floor_pct: float,
    stream_floor_pct: float | None = None,
) -> dict:
    """{"rows": [...], "regressions": [...]} over the summary streaming
    section. No per-metric spread is measured on the summary line (the
    streaming window's inter-subprocess variance was measured up to
    1.6x), so flagging conditions on a streaming-specific floor —
    ``max(floor_pct, STREAM_FLOOR_PCT)`` by default, or the explicit
    ``stream_floor_pct``. A rate REGRESSES when it falls; a time when it
    rises."""
    floor_pct = (
        stream_floor_pct
        if stream_floor_pct is not None
        else max(floor_pct, STREAM_FLOOR_PCT)
    )
    so = old.get("streaming") or {}
    sn = new.get("streaming") or {}
    rows, regressions, improvements = [], [], []
    for name, kind in STREAM_METRICS:
        a, b = so.get(name), sn.get(name)
        if not isinstance(a, (int, float)) or a <= 0:
            if isinstance(b, (int, float)) and b > 0:
                rows.append({"metric": name, "status": "new", "new": b})
            continue
        if not isinstance(b, (int, float)) or b <= 0:
            rows.append({"metric": name, "status": "unmeasurable-new",
                         "old": a, "new": b})
            continue
        delta_pct = 100.0 * (b - a) / a
        worse = delta_pct < 0 if kind == "rate" else delta_pct > 0
        status = "within-noise"
        if abs(delta_pct) > floor_pct:
            status = "REGRESSION" if worse else "improvement"
        row = {
            "metric": name,
            "kind": kind,
            "old": a,
            "new": b,
            "delta_pct": round(delta_pct, 1),
            "noise_pct": round(floor_pct, 1),
            "status": status,
        }
        rows.append(row)
        if status == "REGRESSION":
            regressions.append(row)
        elif status == "improvement":
            improvements.append(row)
    return {"rows": rows, "regressions": regressions,
            "improvements": improvements}


def compare(old: dict, new: dict, floor_pct: float) -> dict:
    """{"rows": [...], "regressions": [...], "improvements": [...]}

    Flags on the raw delta: a query regresses or improves only when
    |delta| exceeds both sides' spread and ``floor_pct``. Any other
    summary field (a legacy ``cal`` scalar included) is ignored."""
    old_q, new_q = old.get("queries", {}), new.get("queries", {})
    old_sp, new_sp = spread_map(old), spread_map(new)
    rows, regressions, improvements = [], [], []
    for name in new_q:
        if name not in old_q:
            rows.append({"query": name, "status": "new", "new": new_q[name]})
            continue
        a, b = float(old_q[name]), float(new_q[name])
        if a <= 0 or b <= 0:
            # a zero/negative timing on EITHER side means that artifact
            # entry is corrupt (the harness never emits one) — surface it
            # instead of silently dropping the query (old side) or
            # celebrating a broken measurement as a -100% improvement
            # (new side); symmetric guard per the round-12 self-review
            rows.append(
                {
                    "query": name,
                    "status": "unmeasurable-old" if a <= 0 else "unmeasurable-new",
                    "old": a,
                    "new": b,
                }
            )
            continue
        delta_pct = 100.0 * (b - a) / a
        noise = max(old_sp.get(name, 0.0), new_sp.get(name, 0.0), floor_pct)
        status = "within-noise"
        if abs(delta_pct) > noise:
            status = "REGRESSION" if delta_pct > 0 else "improvement"
        row = {
            "query": name,
            "old": a,
            "new": b,
            "delta_pct": round(delta_pct, 1),
            "noise_pct": round(noise, 1),
            "status": status,
        }
        rows.append(row)
        if status == "REGRESSION":
            regressions.append(row)
        elif status == "improvement":
            improvements.append(row)
    for name in old_q:
        if name not in new_q:
            rows.append({"query": name, "status": "removed", "old": old_q[name]})
    return {
        "rows": rows,
        "regressions": regressions,
        "improvements": improvements,
        "old_total": old.get("value"),
        "new_total": new.get("value"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old_artifact")
    ap.add_argument("new_artifact")
    ap.add_argument(
        "--floor-pct",
        type=float,
        default=25.0,
        help="inter-session variance floor (measured ±25%% on identical "
        "code for ramp-heavy queries; docs/scale_notes.md round 11)",
    )
    ap.add_argument(
        "--stream-floor-pct",
        type=float,
        default=None,
        help="noise floor for the streaming metrics; defaults to "
        "max(--floor-pct, 60) per the measured 1.6x inter-subprocess "
        "variance on identical streaming code (ADVICE r13)",
    )
    args = ap.parse_args(argv)
    # load each summary exactly once and feed BOTH comparisons: a second
    # read could silently see different data if an artifact is rewritten
    # mid-run (self-review r13)
    old_summary = load_summary(args.old_artifact)
    new_summary = load_summary(args.new_artifact)
    out = compare(old_summary, new_summary, args.floor_pct)
    for row in sorted(
        (r for r in out["rows"] if "delta_pct" in r),
        key=lambda r: -abs(r["delta_pct"]),
    ):
        print(
            f"{row['status']:>13}  {row['query']:<32} "
            f"{row['old']:>8.3f} -> {row['new']:>8.3f}  "
            f"{row['delta_pct']:+6.1f}% (noise {row['noise_pct']:.0f}%)"
        )
    for row in out["rows"]:
        if row["status"] in ("new", "removed", "unmeasurable-old", "unmeasurable-new"):
            print(f"{row['status']:>13}  {row['query']}")
    if out["old_total"] and out["new_total"]:
        print(
            f"total wall: {out['old_total']} -> {out['new_total']} "
            f"({100.0 * (out['new_total'] - out['old_total']) / out['old_total']:+.1f}%)"
        )
    stream = compare_streaming(
        old_summary,
        new_summary,
        args.floor_pct,
        stream_floor_pct=args.stream_floor_pct,
    )
    for row in stream["rows"]:
        if "delta_pct" not in row:
            print(f"{row['status']:>13}  streaming.{row['metric']}")
            continue
        print(
            f"{row['status']:>13}  streaming.{row['metric']:<22} "
            f"{row['old']:>9.1f} -> {row['new']:>9.1f}  "
            f"{row['delta_pct']:+6.1f}% (floor {row['noise_pct']:.0f}%)"
        )
    for side, path in (("old", args.old_artifact), ("new", args.new_artifact)):
        box = load_box(path)
        if box:
            print(f"{side} box: {json.dumps(box, sort_keys=True)}")
    n_reg = len(out["regressions"]) + len(stream["regressions"])
    n_imp = len(out["improvements"]) + len(stream["improvements"])
    print(
        f"{n_reg} flagged regression(s), "
        f"{n_imp} attributable improvement(s)"
    )
    return 1 if n_reg else 0


if __name__ == "__main__":
    sys.exit(main())
