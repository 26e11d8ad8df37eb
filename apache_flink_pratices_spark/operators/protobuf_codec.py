"""Protobuf codec surface (P8) wired into Spark, with oracle-checked
round-trip queries.

Field construction happens JVM-side (column expressions mirrored in the
oracle SQL); the ``mapInArrow`` stage ONLY encodes to proto3 wire bytes
and decodes back. The oracle is the *direct* projection of the same
fields — so the driver's value-hash match proves the codec is lossless:
any wire-format defect (dropped field, wrong tag, double truncation, level
reordering, timestamp drift) breaks equality.

The stage is ``mapInArrow``, not ``mapInPandas``: it reads the Arrow
columns directly (``to_pylist`` / ``to_numpy``) and builds its output as
a ``RecordBatch`` in the declared schema, so no pandas frame is built on
either side, and the orderbook levels never become Python dicts: they go
to the codec as (values, offsets) columns, are packed and gathered a batch
at a time (``protowire.encode_batch`` / ``decode_batch``), and the level
statistics are computed with numpy.

The codec is the pure-Python wire codec in
:mod:`apache_flink_pratices_spark.serialization`, like the reference's own
plain-Python Protobuf mapper; its throughput is gated by the reference's
perf thresholds (``tests/.../test_protobuf_mapper_extended.py:133-185`` —
<100 ms / 1k trades) in ``tests/test_protobuf_roundtrip.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.operators.orderbook import _SQL_OB, orderbook_updates
from apache_flink_pratices_spark.registry import register
from apache_flink_pratices_spark.serialization.market_proto import (
    decode_orderbooks,
    decode_trade,
    encode_orderbooks,
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
_ARROW_TYPES = {"string": pa.string(), "bigint": pa.int64(), "double": pa.float64()}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a flat DDL schema string, for the kernels' output."""
    return pa.schema([(name, _ARROW_TYPES[kind]) for name, kind in (c.split(" ") for c in ddl.split(", "))])


_TRADE_ARROW = _arrow_schema(_TRADE_OUT_SCHEMA)


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


def _doubles(batch: pa.RecordBatch, name: str) -> list[float]:
    """A double column as Python floats, a null as NaN."""
    return batch.column(name).to_numpy(zero_copy_only=False).tolist()


def _trade_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        cols = [
            _doubles(batch, c) if batch.schema.field(c).type == pa.float64() else batch.column(c).to_pylist()
            for c in _TRADE_COLS
        ]
        rows = []
        for values in zip(*cols):
            msg = dict(zip(_TRADE_COLS, values))
            msg["trade_timestamp"] = us_to_ts(msg["trade_ts_us"])
            msg["received_timestamp"] = us_to_ts(msg["received_ts_us"])
            d = decode_trade(encode_trade(msg))
            d["trade_ts_us"] = ts_to_us(d["trade_timestamp"])
            d["received_ts_us"] = ts_to_us(d["received_timestamp"])
            rows.append(d)
        yield pa.RecordBatch.from_pylist(rows, schema=_TRADE_ARROW)


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
    return trade_messages(spark, sf_dir).mapInArrow(_trade_kernel, _TRADE_OUT_SCHEMA)


_OB_OUT_SCHEMA = (
    "code string, event_id bigint, ts_us bigint, received_ts_us bigint, "
    "total_ask_size double, total_bid_size double, n_asks bigint, "
    "n_bids bigint, first_ask_price double, last_ask_price double, "
    "ask_pos_checksum double, bid_pos_checksum double"
)


_OB_ARROW = _arrow_schema(_OB_OUT_SCHEMA)


def _levels(col: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """list<struct<price, size>> → (values (m, 2) in ORDERBOOK_LEVEL field
    order, n + 1 list offsets). A null list is empty; a null level or value
    is +0.0, the proto3 default a None value encodes to."""
    offsets = np.zeros(len(col) + 1, np.int64)
    np.cumsum(col.value_lengths().fill_null(0).to_numpy(zero_copy_only=False), out=offsets[1:])
    price, size = col.flatten().flatten()
    values = np.column_stack(
        [price.fill_null(0.0).to_numpy(zero_copy_only=False), size.fill_null(0.0).to_numpy(zero_copy_only=False)]
    )
    return values, offsets


def _level_stats(values: np.ndarray, offsets: np.ndarray):
    """Per message: level count, first and last price, and the
    position-weighted size checksum sum((i + 1) * size), bit-equal to the
    builtin ``sum``: added left to right from 0 (a numpy reduction is
    pairwise and can round differently), and where both addends are NaN
    the term's payload is kept, as CPython's float addition keeps its
    right operand's (a numpy loop may keep either)."""
    starts, counts = offsets[:-1], np.diff(offsets)
    some = counts > 0
    first, last, checksum = np.zeros(len(counts)), np.zeros(len(counts)), np.zeros(len(counts))
    first[some] = values[starts[some], 0]
    last[some] = values[offsets[1:][some] - 1, 0]
    with np.errstate(over="ignore", invalid="ignore"):
        for i in range(int(counts.max(initial=0))):
            live = counts > i
            acc, term = checksum[live], (i + 1) * values[starts[live] + i, 1]
            checksum[live] = np.where(np.isnan(acc) & np.isnan(term), term, acc + term)
    return counts, first, last, checksum


def _ob_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        heads = [
            {
                "exchange": 1,
                "code": code,
                "total_ask_size": ask,
                "total_bid_size": bid,
                "stream_type": 2,
                "event_timestamp": us_to_ts(ts),
                "received_timestamp": us_to_ts(ts + 1500),
            }
            for code, ask, bid, ts in zip(
                batch.column("code").to_pylist(),
                _doubles(batch, "total_ask_size"),
                _doubles(batch, "total_bid_size"),
                batch.column("ts_us").to_pylist(),
            )
        ]
        wire = encode_orderbooks(heads, {"asks": _levels(batch.column("asks")), "bids": _levels(batch.column("bids"))})
        obs, levels = decode_orderbooks(wire)
        n_asks, first_ask, last_ask, ask_sum = _level_stats(*levels["asks"])
        n_bids, _, _, bid_sum = _level_stats(*levels["bids"])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([d["code"] for d in obs], pa.string()),
                batch.column("event_id"),
                pa.array([ts_to_us(d["event_timestamp"]) for d in obs], pa.int64()),
                pa.array([ts_to_us(d["received_timestamp"]) for d in obs], pa.int64()),
                pa.array([d["total_ask_size"] for d in obs], pa.float64()),
                pa.array([d["total_bid_size"] for d in obs], pa.float64()),
                pa.array(n_asks),
                pa.array(n_bids),
                pa.array(first_ask),
                pa.array(last_ask),
                pa.array(ask_sum),
                pa.array(bid_sum),
            ],
            schema=_OB_ARROW,
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
    return orderbook_shaped(spark, sf_dir).mapInArrow(_ob_kernel, _OB_OUT_SCHEMA)


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
