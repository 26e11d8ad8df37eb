"""Protobuf codec invariants, modeled on the reference's
tests/.../serialization/test_protobuf_mapper_extended.py:1-185 — field
preservation (incl. proto3 zero-value elision), level order, timestamp
edge cases, unknown-field skipping, and the perf thresholds that are the
reference's only quantitative baselines (<100 ms / 1k trades,
<200 ms / 1k orderbooks → ≥10k / ≥5k msg/s)."""

from __future__ import annotations

import struct
import time

import pytest

from apache_flink_pratices_spark.serialization import market_proto
from apache_flink_pratices_spark.serialization.market_proto import (
    decode_orderbook,
    decode_trade,
    encode_orderbook,
    encode_trade,
    ts_to_us,
    us_to_ts,
)
from apache_flink_pratices_spark.serialization.protowire import Field, decode, encode

TRADE = {
    "exchange": 1,
    "code": "KRW-BTC",
    "trade_price": 52_350_000.0,
    "trade_volume": 0.00123456,
    "ask_bid": 2,
    "prev_closing_price": 51_900_000.0,
    "change": 1,
    "change_price": 450_000.0,
    "trade_timestamp": us_to_ts(1_609_459_200_123_456),
    "sequential_id": 16094592001234560,
    "stream_type": 2,
    "received_timestamp": us_to_ts(1_609_459_200_125_000),
}


def _orderbook(n_levels: int = 15) -> dict:
    return {
        "exchange": 1,
        "code": "KRW-ETH",
        "total_ask_size": 123.456,
        "total_bid_size": 654.321,
        "asks": [
            {"price": 4_000_000.0 + i, "size": 0.5 + i / 7.0} for i in range(n_levels)
        ],
        "bids": [
            {"price": 3_999_999.0 - i, "size": 0.25 + i / 11.0} for i in range(n_levels)
        ],
        "stream_type": 1,
        "event_timestamp": us_to_ts(1_609_459_200_000_000),
        "received_timestamp": us_to_ts(1_609_459_200_001_500),
    }


def test_trade_roundtrip_all_fields():
    assert decode_trade(encode_trade(TRADE)) == TRADE
    # encode() writes fields in declared order, so canonical (field-number
    # ordered) bytes need every descriptor declared in that order
    for desc in (
        market_proto.TIMESTAMP,
        market_proto.ORDERBOOK_LEVEL,
        market_proto.TRADE,
        market_proto.ORDERBOOK_UPDATE,
    ):
        numbers = [f.number for f in desc]
        assert numbers == sorted(numbers), numbers


def test_zero_values_roundtrip():
    """proto3 elides defaults on the wire; they must decode back exactly."""
    zero = {
        "exchange": 0,
        "code": "",
        "trade_price": 0.0,
        "trade_volume": 0.0,
        "ask_bid": 0,
        "prev_closing_price": 0.0,
        "change": 0,
        "change_price": 0.0,
        "trade_timestamp": None,
        "sequential_id": 0,
        "stream_type": 0,
        "received_timestamp": None,
    }
    wire = encode_trade(zero)
    assert wire == b""  # everything elided
    assert decode_trade(wire) == zero


def test_orderbook_level_order_preserved():
    ob = _orderbook(15)
    got = decode_orderbook(encode_orderbook(ob))
    assert got == ob
    assert [l["price"] for l in got["asks"]] == [l["price"] for l in ob["asks"]]


def test_empty_levels():
    ob = _orderbook(0)
    got = decode_orderbook(encode_orderbook(ob))
    assert got["asks"] == [] and got["bids"] == []


@pytest.mark.parametrize(
    "us",
    [0, 1, 999_999, 1_000_000, 1_609_459_200_123_456, 4_102_444_800_000_001],
)
def test_timestamp_conversion_exact(us):
    assert ts_to_us(us_to_ts(us)) == us


def test_negative_int64_varint():
    desc = (Field(1, "v", "int64"),)
    for v in (-1, -(2**62), 2**62):
        assert decode(desc, encode(desc, {"v": v}))["v"] == v


def test_unknown_fields_skipped():
    """A message with extra fields (newer schema) must still decode."""
    desc_v2 = (
        Field(1, "a", "int64"),
        Field(2, "extra_str", "string"),
        Field(3, "extra_dbl", "double"),
    )
    desc_v1 = (Field(1, "a", "int64"),)
    wire = encode(desc_v2, {"a": 7, "extra_str": "xyz", "extra_dbl": 1.5})
    assert decode(desc_v1, wire)["a"] == 7


def test_double_bit_exact():
    desc = (Field(1, "d", "double"),)
    for v in (1e-308, 1.7976931348623157e308, 3.141592653589793, 1 / 3):
        out = decode(desc, encode(desc, {"d": v}))["d"]
        assert struct.pack("<d", out) == struct.pack("<d", v)


def _rate(fn, msgs):
    t0 = time.perf_counter()
    for m in msgs:
        fn(m)
    return len(msgs) / (time.perf_counter() - t0)


def test_trade_encode_throughput_baseline_gate():
    """Reference gate: 1,000 trade serializations < 100 ms (≥10k msg/s)."""
    msgs = [dict(TRADE, sequential_id=i) for i in range(1000)]
    rate = max(_rate(encode_trade, msgs) for _ in range(3))
    assert rate >= 10_000, f"trade encode {rate:.0f} msg/s < 10k gate"


def test_orderbook_encode_throughput_baseline_gate():
    """Reference gate: 1,000 15-level orderbooks < 200 ms (≥5k msg/s)."""
    msgs = [_orderbook(15) for _ in range(1000)]
    rate = max(_rate(encode_orderbook, msgs) for _ in range(3))
    assert rate >= 5_000, f"orderbook encode {rate:.0f} msg/s < 5k gate"


def test_roundtrip_throughput():
    msgs = [dict(TRADE, sequential_id=i) for i in range(1000)]
    rate = max(
        _rate(lambda m: decode_trade(encode_trade(m)), msgs) for _ in range(3)
    )
    assert rate >= 5_000, f"trade roundtrip {rate:.0f} msg/s"
