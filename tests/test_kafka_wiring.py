"""Kafka sink/source wiring (S3/K2/K3): the wire-column construction and
topic routing are pure column logic, unit-tested batch-side without a
broker (the spark-sql-kafka jar ships on real clusters, not in this
sandbox)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from apache_flink_pratices_spark.sinks.kafka import (
    PRODUCER_OPTIONS,
    TOPIC_BY_TYPE,
    to_kafka_frame,
)
from apache_flink_pratices_spark.sources.kafka import (
    ORDERBOOKS_TOPIC,
    TRADES_TOPIC,
    decode_kafka_value,
    kafka_reader,
)


def test_topic_routing(spark):
    df = spark.createDataFrame(
        [
            ("KRW-BTC", '{"p":1}', "trade"),
            ("KRW-ETH", '{"p":2}', "orderbook"),
            ("KRW-BTC", '{"p":3}', "unknown"),
        ],
        "code string, payload string, etype string",
    )
    wire = to_kafka_frame(df, key_col="code", value_col="payload", type_col="etype")
    rows = wire.collect()
    # unknown event types are dropped (upbit_connector.py:148-156 stance)
    assert len(rows) == 2
    got = {bytes(r.key).decode(): r.topic for r in rows}
    assert got == {"KRW-BTC": TRADES_TOPIC, "KRW-ETH": ORDERBOOKS_TOPIC}
    assert wire.columns == ["key", "value", "topic"]


def test_wire_types_are_binary(spark):
    df = spark.createDataFrame([("KRW-BTC", "x")], "code string, payload string")
    wire = to_kafka_frame(df, key_col="code", value_col="payload")
    schema = dict(wire.dtypes)
    assert schema == {"key": "binary", "value": "binary"}


def test_key_partitioning_preserves_per_key_grouping(spark):
    # same key → same Kafka partition (hash of key bytes); verify our key
    # bytes are stable per code so the per-key ordering contract holds.
    df = spark.createDataFrame(
        [("KRW-BTC", "a", "trade"), ("KRW-BTC", "b", "trade")],
        "code string, payload string, etype string",
    )
    wire = to_kafka_frame(df, "code", "payload", "etype")
    keys = {bytes(r.key) for r in wire.collect()}
    assert keys == {b"KRW-BTC"}


def test_kafka_reader_builds(spark):
    # construction must not require the kafka jar (no .load() here)
    reader = kafka_reader(spark, "broker:9092", max_offsets_per_trigger=10_000)
    assert reader is not None


def test_producer_options_mirror_reference():
    assert PRODUCER_OPTIONS["kafka.acks"] == "all"
    assert PRODUCER_OPTIONS["kafka.enable.idempotence"] == "true"
    assert set(TOPIC_BY_TYPE) == {"trade", "orderbook"}


def test_decode_kafka_value_schema(spark):
    # simulate the kafka wire schema batch-side and decode
    ts = __import__("datetime").datetime(2021, 1, 1)
    raw = spark.createDataFrame(
        [
            (b"KRW-BTC", b'{"code":"KRW-BTC","price":100.5}', TRADES_TOPIC, 0, 7, ts),
            # a truncated payload: today it decodes to null value columns
            # while the key and the Kafka coordinates survive
            (b"KRW-ETH", b'{"code":"KRW-ETH","pri', TRADES_TOPIC, 1, 8, ts),
        ],
        "key binary, value binary, topic string, partition int, offset long, timestamp timestamp",
    )
    out = decode_kafka_value(raw, "code string, price double")
    row, bad = out.orderBy("offset").collect()
    assert row.code == "KRW-BTC" and row.price == 100.5 and row.topic == TRADES_TOPIC
    assert bad.code is None and bad.price is None
    assert (bad.key, bad.topic, bad.partition, bad.offset) == (
        "KRW-ETH",
        TRADES_TOPIC,
        1,
        8,
    )
