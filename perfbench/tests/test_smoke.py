"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator and reference tests run in milliseconds; the two end-to-end
tests each run the market_ingest workload once (about 45 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402


def test_generators_are_deterministic_per_seed(tmp_path):
    a, b, c = (gen.fraud_feed(s, 3, 50, n_accounts=40) for s in (5, 5, 6))
    assert a == b and a != c
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        root = tmp_path / str(i)
        gen.write_fraud(gen.fraud_feed(seed, 3, 50, n_accounts=40), str(root / "fraud"))
        gen.write_events(seed, 200, str(root / "sf"))
        digests.append(gen.digest_dir(str(root)))
    assert digests[0] == digests[1] != digests[2]


def test_every_late_row_falls_behind_the_watermark():
    feed = gen.fraud_feed(3, 5, 200, late_share=0.05)
    _, dropped = checks.fraud_reference(feed.files)
    assert dropped == feed.late_rows > 0


@pytest.mark.parametrize(
    "events, alerts",
    [
        # small@0, small@30s, large@80s: the first small's timer fires at
        # 60 s and clears the flag, so no alert (the stale-timer case)
        ([(0, 0.50), (30_000, 0.60), (80_000, 900.0)], set()),
        # small@0, small@30s, large@50s: no timer has fired yet
        ([(0, 0.50), (30_000, 0.60), (50_000, 900.0)], {50_000}),
        # a mid amount leaves the flag set
        ([(0, 0.50), (10_000, 42.0), (20_000, 500.0)], {20_000}),
        # a large without a preceding small does nothing
        ([(0, 700.0), (1_000, 800.0)], set()),
    ],
)
def test_fraud_reference_semantics(events, alerts):
    files = [[(7, gen.BASE_MS + t, amount) for t, amount in events]]
    got, dropped = checks.fraud_reference(files)
    assert {ts // 1000 - gen.BASE_MS for _, ts, _ in got} == alerts
    assert dropped == 0


def _bench(*args: str) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "market_ingest", "--seed", "3", "--seconds", "1", *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


def test_every_printed_metric_is_declared_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rc, result = _bench("--trace", "0")
    assert rc == 0 and result["correct"] and result["failed"] == 0
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_a_wrong_output_is_caught_and_counted():
    rc, result = _bench("--trace", "0", "--corrupt-output")
    assert rc != 0
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
