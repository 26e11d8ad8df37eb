"""Streaming FraudDetector driven through a real readStream → memory-sink
query: the golden 12-tx corpus (3 alerts, accounts 3/4/3 — reference
docs/fraud_detection_guide.md:86-100) plus the timer edge cases, including
the consecutive-smalls stale-timer semantics the batch twin intentionally
diverges on (docs/fraud_semantics.md). The shared FraudMachine is also
pinned record-at-a-time, and the keyed runner is driven per micro-batch
without Spark to check that any batch split reproduces that replay."""

from __future__ import annotations

import datetime
import os
import time

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.streaming import StreamingQueryListener

from apache_flink_pratices_spark.domain.rules import FraudMachine
from apache_flink_pratices_spark.operators.streaming_golden import stream_fraud_golden
from apache_flink_pratices_spark.session import _cpus
from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.fraud import ALERT_SCHEMA, fraud_alert_stream
from apache_flink_pratices_spark.streaming.watermarks import keyed_step

from tests.streaming.keyed_harness import run_micro_batches
from tests.test_fraud_fixture import BASE, CORPUS, EDGE_CASES

SCHEMA = "account_id long, ts timestamp, amount double"


def _rows(txs):
    return [
        (
            acct,
            datetime.datetime.fromtimestamp(
                (BASE + off) / 1000, datetime.timezone.utc
            ).replace(tzinfo=None),
            amount,
        )
        for acct, off, amount in txs
    ]


def _run_stream(spark, tmpdir, txs, chunks=1, name="alerts"):
    src = stream_from_collection(
        spark, _rows(txs), SCHEMA, os.path.join(str(tmpdir), "in"), chunks=chunks
    )
    drain(fraud_alert_stream(src), name, os.path.join(str(tmpdir), "ckpt"))
    return sorted((r.account_id, r.amount) for r in spark.table(name).collect())


def test_golden_three_alerts_streaming(spark, tmp_path):
    got = _run_stream(spark, tmp_path, CORPUS, chunks=3, name="golden")
    assert got == [(3, 600.00), (3, 999.00), (4, 500.00)]


def test_edge_cases_streaming(spark, tmp_path):
    got = _run_stream(spark, tmp_path, EDGE_CASES, chunks=2, name="edges")
    assert got == [(6, 500.00), (9, 700.00)]


def test_consecutive_smalls_stale_timer(spark, tmp_path):
    """small@0, small@30s, large@80s: the FIRST small's timer (t=60s) fires
    before the large and clears the flag — no alert, even though the large
    is within 60s of the SECOND small (fraud_detector.py:103-110 never
    deletes the stale timer). The batch twin alerts here; divergence is
    documented in docs/fraud_semantics.md."""
    txs = [(20, 0, 0.50), (20, 30_000, 0.60), (20, 80_000, 900.00)]
    got = _run_stream(spark, tmp_path, txs, name="stale")
    assert got == []


def test_consecutive_smalls_within_first_window(spark, tmp_path):
    """small@0, small@30s, large@50s: no timer has fired yet → alert."""
    txs = [(21, 0, 0.50), (21, 30_000, 0.60), (21, 50_000, 900.00)]
    got = _run_stream(spark, tmp_path, txs, name="withinwin")
    assert got == [(21, 900.00)]


def test_timeout_fires_across_batches(spark, tmp_path):
    """The armed timer must also fire via Spark's event-time timeout when
    the key receives NO further rows: account 30 goes quiet after a small,
    another key's later events advance the watermark past its timer, and a
    large arriving afterwards must not alert."""
    txs = [
        (30, 0, 0.50),  # batch 1: arm timer at t=60s
        (31, 120_000, 5.0),  # batch 2: other key pushes watermark to 120s
        (30, 130_000, 900.00),  # batch 3: large for 30 → flag long cleared
    ]
    got = _run_stream(spark, tmp_path, txs, chunks=3, name="timeout")
    assert got == []


def test_late_rows_dropped_behind_the_previous_watermark_delivered_after_it(spark, tmp_path):
    """Spark drops (and counts) rows at or behind the PREVIOUS batch's
    watermark; a row between that and the current watermark still reaches
    the runner, which walks it in event order (0 s delay, one file a batch).
    File 2's small for account 70 is one file behind (10 s < watermark
    20 s) and, walked before the 30 s large, arms the flag that alerts.
    File 3's large for account 60 is two files behind (15 s <= file 1's
    watermark 20 s): delivered, it would alert on the flag armed at 0 s."""
    txs = [
        (60, 0, 0.50), (61, 20_000, 5.0),  # file 1 -> watermark 20 s
        (70, 30_000, 900.0), (70, 10_000, 0.50),  # file 2 runs at wm 20 s
        (60, 15_000, 900.0), (61, 40_000, 5.0),  # file 3 drops at <= 20 s
    ]
    src = stream_from_collection(
        spark, _rows(txs), SCHEMA, os.path.join(str(tmp_path), "in"), chunks=3
    )
    q = drain(fraud_alert_stream(src), "late", os.path.join(str(tmp_path), "ckpt"))
    got = sorted((r.account_id, r.amount) for r in spark.table("late").collect())
    dropped = sum(
        op.numRowsDroppedByWatermark for p in q.recentProgress for op in p.stateOperators
    )
    assert got == [(70, 900.00)]
    assert dropped == 1


class _StateWidths(StreamingQueryListener):
    def __init__(self):
        self.widths = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.widths += [op.numShufflePartitions for op in event.progress.stateOperators]

    def onQueryTerminated(self, event):
        pass


def test_golden_runs_at_the_engine_width_in_a_plain_session(spark):
    """The registered fraud golden, run in a plain session at Spark's
    default 200 partitions, keeps its state at the engine width and leaves
    the session's width as it found it."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    listener = _StateWidths()
    spark.streams.addListener(listener)
    try:
        spark.conf.set(key, "200")
        stream_fraud_golden(spark, "")
        assert spark.conf.get(key) == "200"
        # listener events are delivered asynchronously
        deadline = time.time() + 20
        while not listener.widths and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, prev)
    assert listener.widths and set(listener.widths) == {_cpus()}


# ---- the shared state machine, record-at-a-time -------------------------


def _machine_replay(txs):
    """Drive the shared state machine per key, record-at-a-time — the
    Flink-semantics oracle the streaming detector must reproduce."""
    machines: dict[int, FraudMachine] = {}
    alerts: list[tuple[int, float]] = []
    for acct, off, amount in sorted(txs, key=lambda t: t[1]):
        m = machines.setdefault(acct, FraudMachine(None, None, []))
        ts_ms = BASE + off
        m.on_event(ts_ms, ts_ms * 1000, amount)
        alerts.extend((acct, amt) for _, amt in m.alerts)
        m.alerts.clear()
    return sorted(alerts)


def test_machine_golden_three_alerts():
    assert _machine_replay(CORPUS) == [(3, 600.00), (3, 999.00), (4, 500.00)]


def test_machine_edge_cases():
    assert _machine_replay(EDGE_CASES) == [(6, 500.00), (9, 700.00)]


def test_machine_consecutive_smalls_stale_timer():
    """The first small's stale timer fires between the second small and
    the large, clearing the flag (fraud_detector.py:103-110)."""
    txs = [(20, 0, 0.50), (20, 30_000, 0.60), (20, 80_000, 900.00)]
    assert _machine_replay(txs) == []


# ---- the keyed runner, per micro-batch ----------------------------------


def _run_detector(txs, chunks):
    """Split ``txs`` into ``chunks`` micro-batches and drive the keyed
    runner's fraud step over them (see :func:`run_micro_batches`)."""
    rows = pd.DataFrame(
        [(acct, (BASE + off) * 1000, amt) for acct, off, amt in txs],
        columns=["account_id", "ts_us", "amount"],
    )
    step = keyed_step(FraudMachine, ALERT_SCHEMA)
    alerts = run_micro_batches(step, rows, "account_id", chunks)
    return sorted((int(a), float(amt)) for a, _, amt in alerts)


def test_detector_state_survives_batch_boundaries():
    """One row per batch, so every transition reads the persisted state
    tuple: the alert's clean-up must delete the timer recorded in
    ``latest`` (armed at 60 s), or it fires at 70 s and the second small
    loses its flag."""
    txs = [(40, 0, 0.50), (40, 10_000, 900.0), (40, 20_000, 0.50),
           (40, 70_000, 900.0)]
    want = [(40, 900.0), (40, 900.0)]
    assert _machine_replay(txs) == want
    assert _run_detector(txs, chunks=4) == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # account
            st.integers(min_value=1, max_value=90_000),  # gap ms
            st.sampled_from([0.50, 1.00, 5.0, 499.99, 500.00, 900.0]),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_fraud_detector_matches_machine_replay(events, chunks):
    """Property: for any in-order corpus and any micro-batch split, the
    keyed runner equals the record-at-a-time machine replay."""
    t, txs = 0, []
    for acct, gap, amount in events:
        t += gap  # strictly increasing -> nothing is late, no wm ties
        txs.append((acct, t, amount))
    assert _run_detector(txs, chunks) == _machine_replay(txs)
