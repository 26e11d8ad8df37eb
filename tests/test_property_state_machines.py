"""Batch-split equivalence for the shared state machines: processing a
key's events in ONE machine must equal processing a prefix, persisting
the state tuple the keyed runner persists, and restoring a fresh machine
from it — which is exactly what micro-batches do at every batch boundary.
If any transition state failed to round-trip through the persisted
tuple, these properties would catch it."""

from __future__ import annotations

from collections import namedtuple

from hypothesis import given, settings, strategies as st

from apache_flink_pratices_spark.domain.rules import FraudMachine
from apache_flink_pratices_spark.streaming.signal_generator import SignalMachine

# --- FraudMachine ----------------------------------------------------------

amounts = st.sampled_from([0.5, 0.9, 1.0, 5.0, 250.0, 500.0, 900.0])
gaps_ms = st.sampled_from([1, 100, 30_000, 59_999, 60_000, 61_000, 200_000])


@st.composite
def tx_streams(draw):
    n = draw(st.integers(1, 12))
    ts, out = 1_000_000, []
    for _ in range(n):
        ts += draw(gaps_ms)
        out.append((ts, draw(amounts)))
    return out


def _replay_fraud(txs):
    m = FraudMachine(None, None, [])
    alerts = []
    for ts_ms, amt in txs:
        m.on_event(ts_ms, ts_ms * 1000, amt)
        alerts.extend(m.alerts)
        m.alerts.clear()
    return alerts, (m.flag, m.latest, tuple(m.armed))


@settings(max_examples=300, deadline=None)
@given(txs=tx_streams(), data=st.data())
def test_fraud_split_equivalence(txs, data):
    split = data.draw(st.integers(0, len(txs)))
    whole_alerts, whole_state = _replay_fraud(txs)

    m1 = FraudMachine(None, None, [])
    alerts = []
    for ts_ms, amt in txs[:split]:
        m1.on_event(ts_ms, ts_ms * 1000, amt)
    alerts.extend(m1.alerts)
    # persist exactly the state the runner stores, resume a new machine
    m2 = FraudMachine.restore(None, m1.state)
    for ts_ms, amt in txs[split:]:
        m2.on_event(ts_ms, ts_ms * 1000, amt)
    alerts.extend(m2.alerts)
    assert alerts == whole_alerts
    assert (m2.flag, m2.latest, tuple(m2.armed)) == whole_state


@settings(max_examples=300, deadline=None)
@given(txs=tx_streams())
def test_fraud_armed_invariants(txs):
    m = FraudMachine(None, None, [])
    for ts_ms, amt in txs:
        m.on_event(ts_ms, ts_ms * 1000, amt)
        assert m.armed == sorted(m.armed)
        assert len(set(m.armed)) == len(m.armed)
        if m.flag:
            assert m.latest is not None and m.latest in m.armed


# --- SignalMachine ---------------------------------------------------------

Row = namedtuple(
    "Row",
    "ts_us source price volume total_ask total_bid levels signal_id status reason entry_price",
    defaults=(None,) * 11,
)


@st.composite
def cep_rows(draw):
    n = draw(st.integers(1, 10))
    ts, rows = 1_000_000, []
    for _ in range(n):
        ts += draw(st.sampled_from([100_000, 1_000_000, 5_000_000]))
        kind = draw(st.sampled_from(["trade", "orderbook"]))
        if kind == "trade":
            rows.append(Row(ts_us=ts, source="trade",
                            price=draw(st.sampled_from([100.0, 101.0])),
                            volume=draw(st.sampled_from([1.0, 5.0]))))
        else:
            ask = draw(st.integers(5, 50))
            bid = draw(st.integers(1, 30))
            lvl = [{"price": draw(st.integers(99, 102)), "size": draw(st.integers(1, 20))}]
            rows.append(Row(ts_us=ts, source="orderbook",
                            total_ask=ask, total_bid=bid, levels=lvl))
    return rows


def _snapshot(m: SignalMachine):
    return (tuple(m.positions), tuple(m.removed), m.last_ob, tuple(m.watches),
            tuple(m.ask_vols), m.first_seen_us, tuple(m.trades),
            tuple(m.win_avgs), m.cond1_ts_us, m.cond2_ts_us, m.last_price)


@settings(max_examples=200, deadline=None)
@given(rows=cep_rows(), data=st.data())
def test_signal_split_equivalence(rows, data):
    split = data.draw(st.integers(0, len(rows)))
    whole = SignalMachine("K")
    for r in rows:
        whole.process_row(r)

    m1 = SignalMachine("K")
    for r in rows[:split]:
        m1.process_row(r)
    m2 = SignalMachine.restore("K", m1.state)
    for r in rows[split:]:
        m2.process_row(r)
    assert m1.signals + m2.signals == whole.signals
    assert _snapshot(m2) == _snapshot(whole)
