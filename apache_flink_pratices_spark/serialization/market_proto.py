"""Market-data protobuf messages (P8) — descriptors re-authored from the
reference's schema semantics (``proto/market_data.proto:9-45``,
``proto/common.proto:6-32``) and the mapper conventions of
``src/data_ingestion/infrastructure/serialization/protobuf_mapper.py:36-73``
(enums carried as their integer codes, ms-epoch ↔
google.protobuf.Timestamp).

Messages:

- ``Trade``: exchange, code, trade_price, trade_volume, ask_bid,
  prev_closing_price, change, change_price, trade_timestamp,
  sequential_id, stream_type, received_timestamp;
- ``OrderBookUpdate``: exchange, code, total_ask_size, total_bid_size,
  repeated asks/bids levels, stream_type, event_timestamp,
  received_timestamp;
- ``google.protobuf.Timestamp``: seconds + nanos (well-known type wire
  shape).
"""

from __future__ import annotations

from typing import Any

from apache_flink_pratices_spark.serialization.protowire import (
    Columns,
    Field,
    decode,
    decode_batch,
    encode,
    encode_batch,
)

TIMESTAMP = (
    Field(1, "seconds", "int64"),
    Field(2, "nanos", "int64"),
)

ORDERBOOK_LEVEL = (
    Field(1, "price", "double"),
    Field(2, "size", "double"),
)

TRADE = (
    Field(1, "exchange", "enum"),
    Field(2, "code", "string"),
    Field(3, "trade_price", "double"),
    Field(4, "trade_volume", "double"),
    Field(5, "ask_bid", "enum"),
    Field(6, "prev_closing_price", "double"),
    Field(7, "change", "enum"),
    Field(8, "change_price", "double"),
    Field(9, "trade_timestamp", "message", message=TIMESTAMP),
    Field(10, "sequential_id", "int64"),
    Field(11, "stream_type", "enum"),
    Field(12, "received_timestamp", "message", message=TIMESTAMP),
)

ORDERBOOK_UPDATE = (
    Field(1, "exchange", "enum"),
    Field(2, "code", "string"),
    Field(3, "total_ask_size", "double"),
    Field(4, "total_bid_size", "double"),
    Field(5, "asks", "message", repeated=True, message=ORDERBOOK_LEVEL),
    Field(6, "bids", "message", repeated=True, message=ORDERBOOK_LEVEL),
    Field(7, "stream_type", "enum"),
    Field(8, "event_timestamp", "message", message=TIMESTAMP),
    Field(9, "received_timestamp", "message", message=TIMESTAMP),
)


# --- timestamp helpers (protobuf_mapper.py:52-73 analogues, exact) --------
def us_to_ts(ts_us: int) -> dict[str, int]:
    """epoch micros → Timestamp message (exact)."""
    return {"seconds": ts_us // 1_000_000, "nanos": (ts_us % 1_000_000) * 1_000}


def ts_to_us(ts: dict[str, int] | None) -> int:
    """Timestamp message → epoch micros (exact; None → 0)."""
    if ts is None:
        return 0
    return int(ts["seconds"]) * 1_000_000 + int(ts["nanos"]) // 1_000


# --- message codecs -------------------------------------------------------
def encode_trade(trade: dict[str, Any]) -> bytes:
    return encode(TRADE, trade)


def decode_trade(data: bytes) -> dict[str, Any]:
    return decode(TRADE, data)


def encode_orderbook(ob: dict[str, Any]) -> bytes:
    return encode(ORDERBOOK_UPDATE, ob)


def decode_orderbook(data: bytes) -> dict[str, Any]:
    return decode(ORDERBOOK_UPDATE, data)


def encode_orderbooks(obs: list[dict[str, Any]], levels: Columns) -> list[bytes]:
    """``encode_orderbook`` of each message, its ``asks``/``bids`` given
    as (values, offsets) columns (see ``protowire.encode_batch``)."""
    return encode_batch(ORDERBOOK_UPDATE, obs, levels)


def decode_orderbooks(data: list[bytes]) -> tuple[list[dict[str, Any]], Columns]:
    """``decode_orderbook`` of each buffer, ``asks``/``bids`` returned as
    (values, offsets) columns (see ``protowire.decode_batch``)."""
    return decode_batch(ORDERBOOK_UPDATE, data)
