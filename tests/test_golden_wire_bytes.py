"""Golden wire-bytes corpus for the Python proto3 codec (VERDICT r5 #6).

The Python codec is the project's only protobuf implementation, so
nothing else can check its bytes; round trips alone would only test it
against itself. This corpus pins its wire output against
byte sequences DERIVED BY HAND from the public proto3 encoding spec
(https://protobuf.dev/programming-guides/encoding/): tags are
(field_number << 3) | wire_type varints, doubles are 8-byte little-endian
IEEE-754, LEN records are varint-length-prefixed, defaults are elided.
Each golden constant below is annotated with its byte-level derivation —
none was produced by the codec under test, so a codec regression breaks
these even if encode/decode stay mutually consistent. Any standards-
conforming protobuf runtime serializes these messages to exactly these
bytes given the same field ordering, because proto3 canonical form here is
field-number-ordered with no unknown fields.

Reference schema semantics: /root/reference proto/market_data.proto:9-45,
proto/common.proto:6-32.
"""

from __future__ import annotations

import pytest

from apache_flink_pratices_spark.serialization.market_proto import (
    ORDERBOOK_LEVEL,
    decode_orderbook,
    decode_orderbooks,
    decode_trade,
    encode_orderbook,
    encode_trade,
)
from apache_flink_pratices_spark.serialization.protowire import decode

# --- Trade, every field set -------------------------------------------------
# field 1 exchange=1 (UPBIT):        08 01            (tag 1|VARINT, 1)
# field 2 code="KRW-BTC":            12 07 4b...43    (tag 2|LEN, 7 bytes)
# field 3 trade_price=50000.25:      19 + <d LE       (tag 3|I64)
# field 4 trade_volume=0.5:          21 + <d LE
# field 5 ask_bid=2 (BID):           28 02
# field 6 prev_closing_price=49000:  31 + <d LE
# field 7 change=3 (FALL):           38 03
# field 8 change_price=-1000.25:     41 + <d LE
# field 9 trade_timestamp:           4a 0b + {08 <varint 1700000000>
#                                             10 <varint 123456000>}
# field 10 sequential_id:            50 + <varint 987654321012345678>
# field 11 stream_type=2 (REALTIME): 58 02
# field 12 received_timestamp:       62 09 + {08 <varint 1700000001>
#                                             10 <varint 1000 = e8 07>}
GOLDEN_TRADE_FULL = bytes.fromhex(
    "080112074b52572d4254431900000000086ae84021000000000000e03f2802"
    "310000000000ede7403803410000000000428fc04a0b0880e2cfaa06108094"
    "ef3a50ce96c8a6f4cbb6da0d580262090881e2cfaa0610e807"
)
TRADE_FULL = {
    "exchange": 1,
    "code": "KRW-BTC",
    "trade_price": 50000.25,
    "trade_volume": 0.5,
    "ask_bid": 2,
    "prev_closing_price": 49000.0,
    "change": 3,
    "change_price": -1000.25,
    "trade_timestamp": {"seconds": 1_700_000_000, "nanos": 123_456_000},
    "sequential_id": 987_654_321_012_345_678,
    "stream_type": 2,
    "received_timestamp": {"seconds": 1_700_000_001, "nanos": 1_000},
}

# --- negative int64: two's complement 10-byte varint -------------------------
# field 10 sequential_id=-1: 50 ff ff ff ff ff ff ff ff ff 01
GOLDEN_TRADE_NEG_SEQ = bytes.fromhex("50ffffffffffffffffff01")

# --- -0.0 double: falsy but NOT the proto3 default bit pattern ---------------
# field 3 trade_price=-0.0: 19 00 00 00 00 00 00 00 80
GOLDEN_TRADE_NEG_ZERO = bytes.fromhex("190000000000000080")

# --- OrderBookUpdate with repeated levels, order preserved -------------------
# fields 1-4 as above; field 5 (asks) twice then field 6 (bids) once, each a
# LEN record of {09 <price d LE> 11 <size d LE>}; field 7 stream_type=1;
# field 8 event_timestamp={seconds: 1700000002} (nanos=0 elided).
GOLDEN_ORDERBOOK = bytes.fromhex(
    "080112074b52572d455448190000000000002940210000000000403f402a12"
    "0900000000f0b34a4111000000000000f83f2a120900000000eab44a411100"
    "0000000000d03f32120900000000f6b24a4111000000000000004038014206"
    "0882e2cfaa06"
)
ORDERBOOK_FULL = {
    "exchange": 1,
    "code": "KRW-ETH",
    "total_ask_size": 12.5,
    "total_bid_size": 31.25,
    "asks": [
        {"price": 3_500_000.0, "size": 1.5},
        {"price": 3_500_500.0, "size": 0.25},
    ],
    "bids": [{"price": 3_499_500.0, "size": 2.0}],
    "stream_type": 1,
    "event_timestamp": {"seconds": 1_700_000_002, "nanos": 0},
    "received_timestamp": None,  # absent on wire → default (None) on decode
}


def test_trade_full_encodes_to_golden_bytes():
    assert encode_trade(TRADE_FULL) == GOLDEN_TRADE_FULL


def test_trade_full_decodes_from_golden_bytes():
    assert decode_trade(GOLDEN_TRADE_FULL) == TRADE_FULL


def test_empty_trade_is_empty_bytes():
    """proto3 canonical form: a message of all defaults is zero bytes."""
    assert encode_trade({}) == b""
    decoded = decode_trade(b"")
    assert decoded["exchange"] == 0 and decoded["code"] == ""
    assert decoded["trade_price"] == 0.0 and decoded["trade_timestamp"] is None


def test_negative_int64_is_ten_byte_varint():
    assert encode_trade({"sequential_id": -1}) == GOLDEN_TRADE_NEG_SEQ
    assert decode_trade(GOLDEN_TRADE_NEG_SEQ)["sequential_id"] == -1


def test_negative_zero_double_survives_on_wire():
    import math

    assert encode_trade({"trade_price": -0.0}) == GOLDEN_TRADE_NEG_ZERO
    back = decode_trade(GOLDEN_TRADE_NEG_ZERO)["trade_price"]
    assert back == 0.0 and math.copysign(1.0, back) == -1.0


def test_orderbook_encodes_to_golden_bytes_levels_in_order():
    assert encode_orderbook(ORDERBOOK_FULL) == GOLDEN_ORDERBOOK


def test_orderbook_decodes_from_golden_bytes():
    assert decode_orderbook(GOLDEN_ORDERBOOK) == ORDERBOOK_FULL


def test_decode_skips_unknown_field_like_a_conforming_runtime():
    """Forward compatibility: a future field (#15, each wire type) must be
    skipped, leaving the known fields intact."""
    unknown_varint = bytes.fromhex("7801")  # tag 15|VARINT, value 1
    unknown_len = bytes.fromhex("7a03616263")  # tag 15|LEN, "abc"
    unknown_i64 = bytes.fromhex("790000000000000040")  # tag 15|I64
    for extra in (unknown_varint, unknown_len, unknown_i64):
        out = decode_trade(GOLDEN_TRADE_NEG_SEQ + extra)
        assert out["sequential_id"] == -1


# --- near-canonical level records --------------------------------------------
# A canonical OrderBookLevel record is 2a 12 | 09 <price> 11 <size>: field 5
# (asks) LEN 18, then both doubles in field order. The batch decoder recognises
# that exact shape by its length and tag bytes; each record below looks
# almost like it and must decode exactly as the general decoder does.
PRICE_15 = bytes.fromhex("000000000000f83f")  # 1.5
PRICE_25 = bytes.fromhex("0000000000000440")  # 2.5
SIZE_20 = bytes.fromhex("0000000000000040")  # 2.0
CANONICAL_LEVEL = bytes.fromhex("2a1209") + PRICE_15 + b"\x11" + SIZE_20
NEAR_CANONICAL = {
    # size first, then price: 18 bytes but tags 11 .. 09
    "reversed": (bytes.fromhex("2a1211") + SIZE_20 + b"\x09" + PRICE_15, {"price": 1.5, "size": 2.0}),
    # price twice, the last one wins; size absent → default
    "price_twice": (bytes.fromhex("2a1209") + PRICE_15 + b"\x09" + PRICE_25, {"price": 2.5, "size": 0.0}),
    # unknown field 3 (VARINT 1) after both doubles: LEN 20
    "unknown_inside": (
        bytes.fromhex("2a1409") + PRICE_15 + b"\x11" + SIZE_20 + bytes.fromhex("1801"),
        {"price": 1.5, "size": 2.0},
    ),
    # 18-byte body whose second tag is field 3 (I64), an unknown double
    "wrong_second_tag": (bytes.fromhex("2a1209") + PRICE_15 + b"\x19" + SIZE_20, {"price": 1.5, "size": 0.0}),
    # one field only: LEN 9
    "one_field": (bytes.fromhex("2a0909") + PRICE_15, {"price": 1.5, "size": 0.0}),
}
# LEN says 18 but only 13 body bytes follow
TRUNCATED_LEVEL = bytes.fromhex("2a1209") + PRICE_15 + b"\x11" + SIZE_20[:4]


def _batch_asks(data: bytes) -> list[dict]:
    (obj,), columns = decode_orderbooks([data])
    values, offsets = columns["asks"]
    assert offsets.tolist() == [0, len(values)] and "asks" not in obj
    return [dict(zip(("price", "size"), v)) for v in values.tolist()]


def test_near_canonical_level_records_decode_like_the_general_decoder():
    for name, (record, expected) in NEAR_CANONICAL.items():
        body = record[2:]
        assert decode(ORDERBOOK_LEVEL, body) == expected, name  # the general decoder
        # alone, and after a canonical record (element order kept)
        for data, levels in ((record, [expected]), (CANONICAL_LEVEL + record, [{"price": 1.5, "size": 2.0}, expected])):
            assert decode_orderbook(data)["asks"] == levels, name
            assert _batch_asks(data) == levels, name


def test_truncated_level_record_raises_the_general_error():
    message = "truncated field: need 18 bytes at 2, have 16"
    with pytest.raises(ValueError, match=f"^{message}$"):
        decode_orderbook(TRUNCATED_LEVEL)
    with pytest.raises(ValueError, match=f"^{message}$"):
        decode_orderbooks([TRUNCATED_LEVEL])
    with pytest.raises(ValueError, match="^truncated field: need 18 bytes at 22, have 36$"):
        decode_orderbooks([CANONICAL_LEVEL, CANONICAL_LEVEL + TRUNCATED_LEVEL])
