"""A2 trend rule (2 consecutive sliding-window average decreases) —
machine-level semantics plus the real-stream golden twin.

Reference: ``호가창 분석 스캘퍼: 시스템 아키텍처.md:641-648`` (5s/1s sliding
windows over trades, avg volume, ValueState comparison)."""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from apache_flink_pratices_spark.streaming.trend import (
    TREND_SCHEMA,
    TREND_WINDOW_MS,
    TrendMachine,
)
from apache_flink_pratices_spark.streaming.watermarks import keyed_step

from tests.streaming.keyed_harness import run_micro_batches

B_MS = 1_609_459_200_000


def _replay(events, wm_steps):
    """Feed (offset_ms, vol) events, firing at each watermark step."""
    m = TrendMachine()
    out = []
    for ts_off, vol in events:
        m.add((B_MS + ts_off) * 1000, vol)
    for wm_off in wm_steps:
        m.fire(B_MS + wm_off)
        out.extend(m.events)
        m.events = []
    return m, out


def test_two_consecutive_decreases_emit_on_transition():
    # fired-window averages: 1s:12, 2s:10.5, 3s:9 (transition), 4s:9,
    # 5s:9 (equal -> reset), 6s:7.5, 7s:6 (second genuine transition as
    # the trades age out of the trailing windows)
    _, out = _replay(
        [(500, 12.0), (1_500, 9.0), (2_500, 6.0)], [10_000]
    )
    assert [(ts, a, p) for ts, a, p in out] == [
        ((B_MS + 3_000) * 1000, 9.0, 10.5),
        ((B_MS + 7_000) * 1000, 6.0, 7.5),
    ]


def test_deeper_streak_does_not_reemit():
    # averages strictly decrease four windows in a row: 1s:8, 2s:6 (s1),
    # 3s:4.667 (s2 -> EMIT), 4s:3.625 (s3 -> silent)
    _, out = _replay(
        [(500, 8.0), (1_500, 4.0), (2_500, 2.0), (3_500, 0.5)], [4_200]
    )
    assert len(out) == 1
    assert out[0][0] == (B_MS + 3_000) * 1000


def test_equal_average_resets_the_streak():
    # 2s:10.5 < 12 (streak 1), 3s:10.5 == 10.5 -> reset, no emission
    _, out = _replay(
        [(500, 12.0), (1_500, 9.0), (2_500, 12.0)], [3_500]
    )
    assert out == []


def test_single_decrease_is_not_a_trend():
    _, out = _replay([(500, 10.0), (1_500, 2.0)], [10_000])
    assert out == []


def test_empty_windows_do_not_break_consecutiveness():
    """Flink sliding windows exist only where elements exist: a quiet gap
    between fired windows still counts as consecutive for the streak."""
    # fired ends: 1..5s (avg 10 — equal runs keep streak 0), quiet 6-10s
    # (no windows), 11s:[8] (first decrease, ACROSS the gap), 12s:[8,2]=5
    # (second decrease -> transition)
    _, out = _replay(
        [(500, 10.0), (10_500, 8.0), (11_500, 2.0)], [30_000]
    )
    assert out[0][:3] == ((B_MS + 12_000) * 1000, 5.0, 8.0)


def test_incremental_watermarks_match_single_fire():
    events = [(500, 12.0), (1_500, 9.0), (2_500, 6.0), (3_500, 9.0)]
    _, once = _replay(events, [60_000])
    _, stepped = _replay(events, [1_000, 2_500, 3_000, 7_200, 60_000])
    assert once == stepped


def test_buffer_evicts_behind_the_fired_horizon():
    m, _ = _replay([(500, 1.0), (9_500, 2.0)], [60_000])
    # everything older than last fired end - window is gone
    assert all(
        ts >= (m.last_end_ms - TREND_WINDOW_MS) * 1000 for ts, _ in m.buf
    )
    assert m.next_deadline_ms() is None  # nothing left to fire


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30_000),
            st.floats(min_value=0.5, max_value=100.0, allow_nan=False),
        ),
        min_size=1,
        max_size=15,
    ),
    st.lists(
        st.integers(min_value=0, max_value=40_000), min_size=1, max_size=5
    ),
)
def test_watermark_stepping_never_changes_the_outcome(events, steps):
    """Property: how the watermark advances (one jump vs many small
    steps) must never change emitted trend events — firing is a pure
    fold over the aligned window sequence."""
    _, once = _replay(events, [60_000])
    _, stepped = _replay(events, sorted(steps) + [60_000])
    assert once == stepped


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["KRW-A", "KRW-B", "KRW-C"]),
            st.integers(min_value=1, max_value=2_500),  # gap ms
            st.sampled_from([1.0, 2.0, 5.0, 9.0, 12.0]),
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=2, max_value=6),
)
# the last batch's watermark (3 s) lands exactly on KRW-A's pending window
# end, whose average (9 < 10.5 < 12) completes the trend: it must fire
# through the timeout as it does in the single batch
@example([("KRW-A", 500, 12.0), ("KRW-A", 1_000, 9.0), ("KRW-A", 1_000, 6.0),
          ("KRW-B", 500, 1.0)], 4)
def test_runner_batch_split_matches_single_batch(events, chunks):
    """Property: for any split into micro-batches of a strictly increasing
    multi-key trade corpus, the keyed runner emits the same trend rows as
    one batch. Rows carry the window end, not the firing time, so when a
    window fires under the global watermark cannot change them."""
    t, rows = 0, []
    for code, gap, vol in events:
        t += gap  # strictly increasing -> nothing is late
        rows.append((code, (B_MS + t) * 1000, vol))
    trades = pd.DataFrame(rows, columns=["code", "ts_us", "volume"])
    step = keyed_step(TrendMachine, TREND_SCHEMA)
    assert sorted(run_micro_batches(step, trades, "code", chunks)) == sorted(
        run_micro_batches(step, trades, "code", 1)
    )


def test_stream_trend_golden_matches_oracle(spark):
    """The registered golden through a real readStream equals its pinned
    VALUES oracle (the driver's check, replayed locally)."""
    import duckdb

    from apache_flink_pratices_spark.registry import all_specs

    spec = all_specs()["stream_trend_golden"]
    got = sorted(
        (r.code, r.trend_ts_us, r.avg_vol, r.prev_avg)
        for r in spec.fn(spark, "/root/testdata/sf0.001").collect()
    )
    want = sorted(duckdb.connect().execute(spec.oracle).fetchall())
    assert got == [tuple(w) for w in want]
