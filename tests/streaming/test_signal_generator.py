"""CEP SignalGenerator end-to-end: the P-wave buy path (density drop +
spoof proxy), the sell path (imbalance + decreasing trade-volume trend),
the 30s recently-removed restore guard, and FAILED-feedback position
removal — all through a real readStream → memory-sink query.

Scenario timeline (code KRW-BTC, seconds from BASE):
  0..55   : 12 stable orderbooks (ask total 1000) — baseline + warm-up
  55.5    : trade (price 50000, vol 10)
  56      : ask total drops to 600 (density −40% → cond1) AND a new
            large level (999, 300) appears → spoof watch armed (+1.5s)
  57      : the big level vanishes (book without 999)
  58.2    : next book; the 57.5s watch fires first against the t=57 book
            → cond2 → BUY signal + position opened
  60/62/64: trades with falling volumes → sliding avgs 9.5 > 5 > 3.67
  65      : imbalanced book (ask/bid = 3) → SELL, position removed,
            removal guarded for 30s
  70      : restore command → REJECTED (within TTL)
  72      : imbalanced book → no SELL (no position — proves rejection)
  100     : restore again → accepted (TTL expired)
  102     : imbalanced book → SELL (proves the restore took effect)
"""

from __future__ import annotations

import datetime
import os

from apache_flink_pratices_spark.domain.rules import P_WAVE_REASON
from apache_flink_pratices_spark.operators.streaming_golden import _restore_scenario
from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.signal_generator import (
    SCENARIO_BASE,
    SCENARIO_BASE_US,
    STABLE_LEVELS,
    UNIFIED_SCHEMA,
    deterministic_signal_id,
    ob_row,
    restore_row,
    signal_stream,
    trade_row,
    unified_row,
    unify_streams,
)

#: ts_us is the absolute unix_micros(ts) — the same domain the watermark
#: lives in, so watch deadlines survive micro-batch boundaries (ADVICE r2)
BASE_US = SCENARIO_BASE_US
CODE = "KRW-BTC"


def _ts(sec: float) -> datetime.datetime:
    return SCENARIO_BASE + datetime.timedelta(seconds=sec)


def _scenario():
    return _restore_scenario(CODE)


def _run(spark, tmpdir, rows, chunks, name):
    src = stream_from_collection(
        spark, rows, UNIFIED_SCHEMA, os.path.join(str(tmpdir), "in"), chunks=chunks
    )
    # rows already carry source/ts_us; feed directly to the keyed runner
    drain(signal_stream(src), name, os.path.join(str(tmpdir), "ckpt"))
    return sorted(spark.table(name).collect(), key=lambda r: r.ts_us)


def test_full_lifecycle(spark, tmp_path):
    signals = _run(spark, tmp_path, _scenario(), chunks=3, name="sigs")
    shape = [(r.side, r.reason, (r.ts_us - BASE_US) // 1_000_000) for r in signals]
    assert shape == [
        ("BUY", P_WAVE_REASON, 58),
        ("SELL", P_WAVE_REASON, 65),
        ("SELL", P_WAVE_REASON, 102),
    ], f"got {shape}"
    buy = signals[0]
    # W7: replay-idempotent deterministic id
    assert buy.signal_id == deterministic_signal_id(CODE, "BUY", P_WAVE_REASON, buy.ts_us)
    # ref price is the last trade price seen before the signal
    assert buy.ref_price == 50_000.0
    assert signals[1].ref_price == 50_300.0


def test_rechunking_invariance(spark, tmp_path):
    """Micro-batch boundaries must not change the output — including a
    chunking that splits the arm(t=56)/fire(t=58.2) rows so an armed watch
    spans a batch boundary (the case that crashed setTimeoutTimestamp when
    ts_us was scenario-relative, and that exercises both the event-time
    timeout path and the end-of-batch drain)."""
    rows = _scenario()
    base = None
    for chunks in (1, 2, 5, len(rows)):
        got = _run(spark, tmp_path / f"c{chunks}", rows, chunks=chunks, name=f"sig_c{chunks}")
        shaped = [(r.side, r.reason, r.ts_us, r.signal_id, r.ref_price) for r in got]
        if base is None:
            base = shaped
        else:
            assert shaped == base, f"chunks={chunks} diverged: {shaped} vs {base}"
    assert [s[0] for s in base] == ["BUY", "SELL", "SELL"]


def test_no_buy_without_spoof(spark, tmp_path):
    """Density drop alone (cond1 without cond2) must not produce a BUY."""
    rows = []
    for k in range(12):
        rows.append(ob_row(CODE, 5 * k, 1000, 1000, STABLE_LEVELS))
    rows.append(ob_row(CODE, 56, 600, 1000, [(100 + i, 60) for i in range(10)]))
    rows.append(ob_row(CODE, 58, 600, 1000, [(100 + i, 60) for i in range(10)]))
    signals = _run(spark, tmp_path, rows, chunks=1, name="nobuy")
    assert signals == []


def test_persisting_level_timer_fires_without_signal(spark, tmp_path):
    """The dedicated spoof corpus (stream_spoof_golden): two watches armed
    in one book, only the VANISHING level's timer may set cond2. The
    persisting level's timer fires too — with cond1 fresh — and must
    produce nothing; output is exactly one BUY regardless of how the
    micro-batches split around the 1.5 s deadline."""
    from apache_flink_pratices_spark.operators.streaming_golden import (
        _spoof_expected,
        _spoof_scenario,
    )

    rows = _spoof_scenario()
    expected = [tuple(e) for e in _spoof_expected()]
    for chunks in (1, 2, len(rows)):
        got = _run(spark, tmp_path / f"s{chunks}", rows, chunks=chunks,
                   name=f"spoof_c{chunks}")
        assert [tuple(r) for r in got] == expected, f"chunks={chunks}"


def test_feedback_failure_removes_position(spark, tmp_path):
    """A FAILED execution feedback closes the position: the subsequent
    sell-shaped book must not emit a SELL."""
    rows = [
        restore_row(CODE, 0, "sid-x", 10.0),
        trade_row(CODE, 1, 100.0, 9.0),
        trade_row(CODE, 2, 100.0, 1.0),
        trade_row(CODE, 3, 100.0, 1.0),
        unified_row(CODE, 5, "feedback", signal_id="sid-x", status="FAILED",
                    reason=P_WAVE_REASON),
        ob_row(CODE, 6, 900, 300, [(100 + i, 90) for i in range(10)]),
    ]
    signals = _run(spark, tmp_path, rows, chunks=1, name="fb")
    assert signals == []


def test_feedback_filled_keeps_position(spark, tmp_path):
    rows = [
        restore_row(CODE, 0, "sid-y", 10.0),
        trade_row(CODE, 1, 100.0, 9.0),
        trade_row(CODE, 2, 100.0, 1.0),
        trade_row(CODE, 3, 100.0, 1.0),
        unified_row(CODE, 5, "feedback", signal_id="sid-y", status="FILLED",
                    reason=P_WAVE_REASON),
        ob_row(CODE, 6, 900, 300, [(100 + i, 90) for i in range(10)]),
    ]
    signals = _run(spark, tmp_path, rows, chunks=1, name="fbok")
    assert [(r.side,) for r in signals] == [("SELL",)]


def test_unify_streams_discriminator(spark):
    trades = spark.createDataFrame(
        [(CODE, _ts(1), 100.0, 2.0)], "code string, ts timestamp, price double, volume double"
    )
    obs = spark.createDataFrame(
        [(CODE, _ts(2), 500, 400)],
        "code string, ts timestamp, total_ask long, total_bid long",
    )
    u = unify_streams(trades=trades, orderbooks=obs)
    rows = {r.source: r for r in u.collect()}
    assert set(rows) == {"trade", "orderbook"}
    assert rows["trade"].price == 100.0 and rows["trade"].total_ask is None
    assert rows["orderbook"].total_ask == 500 and rows["orderbook"].price is None
