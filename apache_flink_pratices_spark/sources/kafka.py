"""Kafka source (S3) — the engine's streaming ingest backbone.

Reference design: consume ``upbit.trades.v1`` / ``upbit.orderbooks.v1``
keyed by market code (``docs/project docs/호가창 분석 스캘퍼: 시스템
아키텍처.md:737-748``); Kafka key-partitioning guarantees per-key ordering
(``src/data_ingestion/infrastructure/kafka/kafka_producer.py:240-245``).

Spark's Kafka source preserves per-partition order and scales consumption
with topic partitions (one Spark task per partition slice) — per-key
ordering therefore holds end-to-end exactly as in the reference.

The ``spark-sql-kafka`` connector jar is not bundled with local pyspark;
:func:`kafka_reader` builds the fully-configured reader without touching
the classpath so wiring is unit-testable, and :func:`read_kafka_stream`
performs the actual ``load()`` (requires the jar at runtime — on a real
cluster it ships with the distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

TRADES_TOPIC = "upbit.trades.v1"
ORDERBOOKS_TOPIC = "upbit.orderbooks.v1"


def kafka_reader(
    spark: SparkSession,
    brokers: str,
    topics: tuple[str, ...] = (TRADES_TOPIC, ORDERBOOKS_TOPIC),
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataStreamReader:
    """Configured (but not yet loaded) Kafka stream reader."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        # at-least-once + downstream dedup is the reference's chosen
        # exactly-once stance (시스템 아키텍처.md:1326-1360): don't fail the
        # query on data loss, surface it.
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader


def read_kafka_stream(spark: SparkSession, brokers: str, **kwargs) -> DataFrame:
    """Load the Kafka stream (requires the spark-sql-kafka jar)."""
    return kafka_reader(spark, brokers, **kwargs).load()


def decode_kafka_value(raw: DataFrame, value_schema) -> DataFrame:
    """Kafka wire columns → typed rows: JSON-decode ``value`` against
    ``value_schema``, keep the partitioning key and Kafka metadata."""
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
    ).select("key", "v.*", "topic", "partition", "offset", "kafka_ts")
