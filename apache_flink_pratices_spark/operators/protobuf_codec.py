"""Protobuf codec surface (P8) wired into Spark, with oracle-checked
round-trip queries.

Field construction happens JVM-side (column expressions mirrored in the
oracle SQL); the Arrow-batched ``mapInPandas`` stage ONLY encodes to proto3
wire bytes and decodes back. The oracle is the *direct* projection of the
same fields — so the driver's value-hash match proves the codec is
lossless: any wire-format defect (dropped field, wrong tag, double
truncation, level reordering, timestamp drift) breaks equality.

The codec is the pure-Python wire codec in
:mod:`apache_flink_pratices_spark.serialization`, like the reference's own
plain-Python Protobuf mapper; its throughput is gated by the reference's
perf thresholds (``tests/.../test_protobuf_mapper_extended.py:133-185`` —
<100 ms / 1k trades) in ``tests/test_protobuf_roundtrip.py``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.operators.orderbook import _SQL_OB, orderbook_updates
from apache_flink_pratices_spark.registry import register
from apache_flink_pratices_spark.serialization.market_proto import (
    decode_orderbook,
    decode_trade,
    encode_orderbook,
    encode_trade,
    ts_to_us,
    us_to_ts,
)

_TRADE_COLS = (
    "exchange",
    "code",
    "trade_price",
    "trade_volume",
    "ask_bid",
    "prev_closing_price",
    "change",
    "change_price",
    "trade_ts_us",
    "sequential_id",
    "stream_type",
    "received_ts_us",
)

_TRADE_OUT_SCHEMA = (
    "exchange bigint, code string, trade_price double, trade_volume double, "
    "ask_bid bigint, prev_closing_price double, change bigint, "
    "change_price double, trade_ts_us bigint, sequential_id bigint, "
    "stream_type bigint, received_ts_us bigint"
)


def trade_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → Trade-shaped rows, all fields built JVM-side."""
    e = load(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    return e.select(
        F.lit(1).cast("long").alias("exchange"),  # UPBIT
        F.concat(F.lit("KRW-"), F.upper("event_type")).alias("code"),
        F.col("value").alias("trade_price"),
        ((F.col("event_id") % 97 + 1).cast("double") / 7.0).alias("trade_volume"),
        (1 + F.col("event_id") % 2).alias("ask_bid"),
        (F.col("value") * 0.99).alias("prev_closing_price"),
        (1 + F.col("event_id") % 3).alias("change"),
        (F.col("value") * 0.01).alias("change_price"),
        ts_us.alias("trade_ts_us"),
        F.col("event_id").alias("sequential_id"),
        (1 + F.col("event_id") % 2).alias("stream_type"),
        (ts_us + 1500).alias("received_ts_us"),
    )


def _trade_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for row in pdf.to_dict("records"):
            msg = {
                "exchange": int(row["exchange"]),
                "code": row["code"],
                "trade_price": float(row["trade_price"]),
                "trade_volume": float(row["trade_volume"]),
                "ask_bid": int(row["ask_bid"]),
                "prev_closing_price": float(row["prev_closing_price"]),
                "change": int(row["change"]),
                "change_price": float(row["change_price"]),
                "trade_timestamp": us_to_ts(int(row["trade_ts_us"])),
                "sequential_id": int(row["sequential_id"]),
                "stream_type": int(row["stream_type"]),
                "received_timestamp": us_to_ts(int(row["received_ts_us"])),
            }
            d = decode_trade(encode_trade(msg))
            out.append(
                (
                    d["exchange"],
                    d["code"],
                    d["trade_price"],
                    d["trade_volume"],
                    d["ask_bid"],
                    d["prev_closing_price"],
                    d["change"],
                    d["change_price"],
                    ts_to_us(d["trade_timestamp"]),
                    d["sequential_id"],
                    d["stream_type"],
                    ts_to_us(d["received_timestamp"]),
                )
            )
        yield pd.DataFrame(out, columns=list(_TRADE_COLS))


@register(
    "proto_roundtrip_trades",
    oracle="""
    SELECT 1 AS exchange,
           concat('KRW-', upper(event_type)) AS code,
           value AS trade_price,
           CAST(event_id % 97 + 1 AS DOUBLE) / 7.0 AS trade_volume,
           1 + event_id % 2 AS ask_bid,
           value * 0.99 AS prev_closing_price,
           1 + event_id % 3 AS change,
           value * 0.01 AS change_price,
           CAST(epoch_us(ts) AS BIGINT) AS trade_ts_us,
           event_id AS sequential_id,
           1 + event_id % 2 AS stream_type,
           CAST(epoch_us(ts) AS BIGINT) + 1500 AS received_ts_us
    FROM events
    """,
    doc="P8: Trade → proto3 wire bytes → Trade. Oracle is the direct "
    "projection, so a hash match proves the codec is bit-lossless on every "
    "field (doubles, enums, strings, nested Timestamps).",
    tags=("protobuf", "serialization"),
)
def proto_roundtrip_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trade_messages(spark, sf_dir).mapInPandas(_trade_roundtrip, _TRADE_OUT_SCHEMA)


_OB_OUT_SCHEMA = (
    "code string, event_id bigint, ts_us bigint, received_ts_us bigint, "
    "total_ask_size double, total_bid_size double, n_asks bigint, "
    "n_bids bigint, first_ask_price double, last_ask_price double, "
    "ask_pos_checksum double, bid_pos_checksum double"
)


def _ob_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for row in pdf.to_dict("records"):
            msg = {
                "exchange": 1,
                "code": row["code"],
                "total_ask_size": float(row["total_ask_size"]),
                "total_bid_size": float(row["total_bid_size"]),
                "asks": [
                    {"price": float(lvl["price"]), "size": float(lvl["size"])}
                    for lvl in row["asks"]
                ],
                "bids": [
                    {"price": float(lvl["price"]), "size": float(lvl["size"])}
                    for lvl in row["bids"]
                ],
                "stream_type": 2,
                "event_timestamp": us_to_ts(int(row["ts_us"])),
                "received_timestamp": us_to_ts(int(row["ts_us"]) + 1500),
            }
            d = decode_orderbook(encode_orderbook(msg))
            asks, bids = d["asks"], d["bids"]
            out.append(
                (
                    d["code"],
                    int(row["event_id"]),
                    ts_to_us(d["event_timestamp"]),
                    ts_to_us(d["received_timestamp"]),
                    d["total_ask_size"],
                    d["total_bid_size"],
                    len(asks),
                    len(bids),
                    asks[0]["price"] if asks else 0.0,
                    asks[-1]["price"] if asks else 0.0,
                    sum((i + 1) * lvl["size"] for i, lvl in enumerate(asks)),
                    sum((i + 1) * lvl["size"] for i, lvl in enumerate(bids)),
                )
            )
        yield pd.DataFrame(
            out,
            columns=[c.split(" ")[0] for c in _OB_OUT_SCHEMA.split(", ")],
        )


@register(
    "proto_roundtrip_orderbook",
    oracle=f"""
    WITH {_SQL_OB},
    checks AS (
      SELECT code, event_id, ts_us,
             CAST(SUM(i * ask_size) AS DOUBLE) AS ask_pos_checksum,
             CAST(SUM(i * bid_size) AS DOUBLE) AS bid_pos_checksum
      FROM lvls GROUP BY code, event_id, ts_us
    )
    SELECT t.code, t.event_id, t.ts_us,
           t.ts_us + 1500 AS received_ts_us,
           CAST(t.total_ask AS DOUBLE) AS total_ask_size,
           CAST(t.total_bid AS DOUBLE) AS total_bid_size,
           CAST(10 AS BIGINT) AS n_asks,
           CAST(10 AS BIGINT) AS n_bids,
           CAST(o.mid + 1 AS DOUBLE) AS first_ask_price,
           CAST(o.mid + 10 AS DOUBLE) AS last_ask_price,
           c.ask_pos_checksum,
           c.bid_pos_checksum
    FROM totals t
      JOIN ob o USING (code, event_id, ts_us)
      JOIN checks c USING (code, event_id, ts_us)
    """,
    doc="P8: OrderBookUpdate (nested repeated levels) → wire bytes → back. "
    "Position-weighted level checksums pin element ORDER through the "
    "repeated-field encoding; totals/first/last pin values.",
    tags=("protobuf", "serialization"),
)
def proto_roundtrip_orderbook(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orderbook_shaped(spark, sf_dir).mapInPandas(_ob_roundtrip, _OB_OUT_SCHEMA)


def orderbook_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OrderBookUpdate-shaped messages (double-typed levels + totals),
    the input of the orderbook round trip."""
    ob = orderbook_updates(spark, sf_dir)
    to_dbl = "transform({0}, l -> struct(CAST(l.price AS DOUBLE) AS price, CAST(l.size AS DOUBLE) AS size))"
    return ob.select(
        "code",
        "event_id",
        "ts_us",
        F.expr(to_dbl.format("asks")).alias("asks"),
        F.expr(to_dbl.format("bids")).alias("bids"),
        F.expr("CAST(aggregate(asks, 0L, (a, l) -> a + l.size) AS DOUBLE)").alias(
            "total_ask_size"
        ),
        F.expr("CAST(aggregate(bids, 0L, (a, l) -> a + l.size) AS DOUBLE)").alias(
            "total_bid_size"
        ),
    )
