"""Property-based codec invariants (hypothesis): encode→decode is the
identity for arbitrary well-formed messages — doubles at full range,
int64 extremes, unicode strings, any level count and order."""

from __future__ import annotations

import math
import struct
import sys

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from apache_flink_pratices_spark.serialization.market_proto import (
    decode_orderbook,
    decode_trade,
    encode_orderbook,
    encode_orderbooks,
    encode_trade,
    ts_to_us,
    us_to_ts,
)

finite_doubles = st.floats(allow_nan=False, allow_infinity=True, width=64)
int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)
enums = st.integers(min_value=0, max_value=3)
ts_us = st.integers(min_value=0, max_value=4_102_444_800_000_000)


@st.composite
def trades(draw):
    return {
        "exchange": draw(enums),
        "code": draw(st.text(max_size=24)),
        "trade_price": draw(finite_doubles),
        "trade_volume": draw(finite_doubles),
        "ask_bid": draw(enums),
        "prev_closing_price": draw(finite_doubles),
        "change": draw(enums),
        "change_price": draw(finite_doubles),
        "trade_timestamp": us_to_ts(draw(ts_us)),
        "sequential_id": draw(int64s),
        "stream_type": draw(enums),
        "received_timestamp": us_to_ts(draw(ts_us)),
    }


@st.composite
def orderbooks(draw):
    levels = st.lists(
        st.fixed_dictionaries({"price": finite_doubles, "size": finite_doubles}),
        max_size=20,
    )
    return {
        "exchange": draw(enums),
        "code": draw(st.text(max_size=24)),
        "total_ask_size": draw(finite_doubles),
        "total_bid_size": draw(finite_doubles),
        "asks": draw(levels),
        "bids": draw(levels),
        "stream_type": draw(enums),
        "event_timestamp": us_to_ts(draw(ts_us)),
        "received_timestamp": us_to_ts(draw(ts_us)),
    }


def _bits(v):
    """Bit-exact normal form: doubles compare by bit pattern (so -0.0 must
    survive the round-trip — encode elides by bits, not truthiness)."""
    if isinstance(v, float):
        import struct

        return struct.pack("<d", v)
    if isinstance(v, dict):
        return {k: _bits(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return v


@given(trades())
@settings(max_examples=300, deadline=None)
def test_trade_roundtrip_property(msg):
    assert _bits(decode_trade(encode_trade(msg))) == _bits(msg)


@given(orderbooks())
@settings(max_examples=200, deadline=None)
def test_orderbook_roundtrip_property(msg):
    got = decode_orderbook(encode_orderbook(msg))
    assert _bits(got) == _bits(msg)


def test_negative_zero_survives_roundtrip():
    msg = {"trade_price": -0.0, "code": "KRW-BTC"}
    got = decode_trade(encode_trade(msg))
    assert math.copysign(1.0, got["trade_price"]) == -1.0


def test_wire_type_mismatch_rejected():
    """A foreign message whose field was encoded with a different wire type
    must be rejected, not silently misparsed."""
    import pytest

    from apache_flink_pratices_spark.serialization.protowire import _varint

    # field 3 (trade_price) is declared double (wire 1); send it as varint
    forged = _varint((3 << 3) | 0) + _varint(42)
    with pytest.raises(ValueError, match="wire type"):
        decode_trade(forged)
    # field 2 (code) is declared string (wire 2); send it as 8-byte I64
    forged = _varint((2 << 3) | 1) + b"\x00" * 8
    with pytest.raises(ValueError, match="wire type"):
        decode_trade(forged)


@given(ts_us)
@settings(max_examples=300, deadline=None)
def test_timestamp_bijection(us):
    assert ts_to_us(us_to_ts(us)) == us


@given(st.binary(max_size=64))
@settings(max_examples=300, deadline=None)
def test_decoder_never_crashes_on_wellformed_prefix(data):
    """Decoding arbitrary bytes either succeeds or raises a ValueError /
    IndexError / UnicodeDecodeError — never hangs or corrupts."""
    try:
        decode_trade(bytes(data))
    except (ValueError, IndexError, UnicodeDecodeError):
        pass


# --- the batch (Arrow kernel) path equals the per-message path ---------------
_NAN_PAYLOAD = struct.unpack("<d", struct.pack("<Q", 0x7FF8_0000_0000_0ABC))[0]
level_values = st.one_of(
    st.sampled_from([0.0, -0.0, _NAN_PAYLOAD, math.inf, -math.inf, 5e-324, sys.float_info.max]),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)
_LEVELS = pa.list_(pa.struct([("price", pa.float64()), ("size", pa.float64())]))


@st.composite
def orderbook_rows(draw):
    levels = st.lists(st.tuples(level_values, level_values), max_size=20)
    return [
        {
            "code": draw(st.text(max_size=8)),
            "event_id": draw(int64s),
            "ts_us": draw(ts_us),
            "asks": draw(levels),
            "bids": draw(levels),
            "total_ask_size": draw(level_values),
            "total_bid_size": draw(level_values),
        }
        for _ in range(draw(st.integers(min_value=0, max_value=6)))
    ]


def _orderbook_message(row):
    return {
        "exchange": 1,
        "code": row["code"],
        "total_ask_size": row["total_ask_size"],
        "total_bid_size": row["total_bid_size"],
        "asks": [{"price": p, "size": s} for p, s in row["asks"]],
        "bids": [{"price": p, "size": s} for p, s in row["bids"]],
        "stream_type": 2,
        "event_timestamp": us_to_ts(row["ts_us"]),
        "received_timestamp": us_to_ts(row["ts_us"] + 1500),
    }


def _orderbook_output(row):
    """The kernel's output row, derived from the per-message codec."""
    d = decode_orderbook(encode_orderbook(_orderbook_message(row)))
    asks, bids = d["asks"], d["bids"]
    return {
        "code": d["code"],
        "event_id": row["event_id"],
        "ts_us": ts_to_us(d["event_timestamp"]),
        "received_ts_us": ts_to_us(d["received_timestamp"]),
        "total_ask_size": d["total_ask_size"],
        "total_bid_size": d["total_bid_size"],
        "n_asks": len(asks),
        "n_bids": len(bids),
        "first_ask_price": asks[0]["price"] if asks else 0.0,
        "last_ask_price": asks[-1]["price"] if asks else 0.0,
        "ask_pos_checksum": float(sum((i + 1) * lvl["size"] for i, lvl in enumerate(asks))),
        "bid_pos_checksum": float(sum((i + 1) * lvl["size"] for i, lvl in enumerate(bids))),
    }


@given(orderbook_rows())
@settings(max_examples=150, deadline=None)
def test_orderbook_batch_path_matches_per_message_path(rows):
    from apache_flink_pratices_spark.operators.protobuf_codec import _levels, _ob_kernel

    def column(side):
        return pa.array([[{"price": p, "size": s} for p, s in r[side]] for r in rows], _LEVELS)

    batch = pa.RecordBatch.from_pydict(
        {
            "code": pa.array([r["code"] for r in rows], pa.string()),
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts_us": pa.array([r["ts_us"] for r in rows], pa.int64()),
            "asks": column("asks"),
            "bids": column("bids"),
            "total_ask_size": pa.array([r["total_ask_size"] for r in rows], pa.float64()),
            "total_bid_size": pa.array([r["total_bid_size"] for r in rows], pa.float64()),
        }
    )
    messages = [_orderbook_message(r) for r in rows]
    heads = [{k: v for k, v in m.items() if k not in ("asks", "bids")} for m in messages]
    wire = encode_orderbooks(heads, {"asks": _levels(batch.column("asks")), "bids": _levels(batch.column("bids"))})
    assert wire == [encode_orderbook(m) for m in messages]
    (out,) = _ob_kernel(iter([batch]))
    assert _bits(out.to_pylist()) == _bits([_orderbook_output(r) for r in rows])


@given(st.lists(trades(), max_size=6), st.lists(st.sampled_from([2**53 + 1, 2**63 - 1, -(2**63)]), max_size=6))
@settings(max_examples=150, deadline=None)
def test_trade_batch_path_matches_per_message_path(msgs, extreme_ids):
    from apache_flink_pratices_spark.operators.protobuf_codec import (
        _TRADE_ARROW,
        _TRADE_COLS,
        _trade_kernel,
    )

    for msg, seq in zip(msgs, extreme_ids):
        msg["sequential_id"] = seq
    rows = [
        dict(msg, trade_ts_us=ts_to_us(msg["trade_timestamp"]), received_ts_us=ts_to_us(msg["received_timestamp"]))
        for msg in msgs
    ]
    batch = pa.RecordBatch.from_pylist(rows, schema=_TRADE_ARROW)
    (out,) = _trade_kernel(iter([batch]))
    expected = []
    for row in rows:
        d = decode_trade(encode_trade(row))
        expected.append(
            dict(d, trade_ts_us=ts_to_us(d["trade_timestamp"]), received_ts_us=ts_to_us(d["received_timestamp"]))
        )
    assert _bits(out.to_pylist()) == _bits([{c: e[c] for c in _TRADE_COLS} for e in expected])
