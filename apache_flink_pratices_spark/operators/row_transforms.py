"""Projections / filters / row transforms (SURVEY.md §2.3, P1-P8 analogues)
expressed over the driver's tables.

Reference parity:
- P3 predicate filters — reference ``examples/stream_source_example.py:19,39``
  (even-number and event-type filters).
- P4 JSON parse + field extraction — reference
  ``src/data_ingestion/infrastructure/connectors/upbit_connector.py:95-167``
  (strict parse, required-field filter, drop unknown types).
- P6/P7 validation + normalization — reference
  ``src/data_ingestion/domain/models/market_data.py:114-239``.
- W7 deterministic IDs — reference ``docs/project docs/호가창 분석 스캘퍼:
  시스템 아키텍처.md:977-998`` (sha256 replay-idempotent signal IDs).

All transforms are pure column expressions (JVM-side, whole-stage codegen);
no Python UDFs anywhere on these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark.functions.hashing import signal_id, sql_signal_id
from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.registry import register


@register(
    "p_filter_even_clicks",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id % 2 = 0 AND event_type = 'click'
    """,
    doc="P3: predicate filter (parity + equality), pushed to the parquet scan.",
    tags=("transform", "filter"),
)
def p_filter_even_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.filter((F.col("event_id") % 2 == 0) & (F.col("event_type") == "click")).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "w7_signal_ids",
    oracle=f"""
    SELECT event_id,
           {sql_signal_id('user_id', "event_type", 'event_id')} AS sig_id
    FROM events
    WHERE event_type = 'signup'
    """,
    doc="W7: deterministic sha256 signal IDs — identical on replay, enabling "
    "at-least-once + downstream dedup (the reference's chosen exactly-once "
    "stance, 시스템 아키텍처.md:1326-1360).",
    tags=("transform", "ids"),
)
def w7_signal_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "signup")
        .select("event_id", signal_id(F.col("user_id"), F.col("event_type"), F.col("event_id")).alias("sig_id"))
    )


@register(
    "json_props_shred",
    oracle="""
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM (
      SELECT event_type,
             CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k
      FROM events WHERE props IS NOT NULL
    )
    GROUP BY event_type
    """,
    doc="Semi-structured shredding (P4's generic form): the events.props "
    "JSON payload parsed into typed columns with from_json + an explicit "
    "schema, then aggregated per event type. The parse is a JVM-side "
    "codegen expression inside the scan's projection — the JSON string "
    "never reaches a shuffle (only the 8-byte extracted field does), "
    "which is the shape that matters when the payload column dominates "
    "row width at 100 TB. The oracle extracts the same field by regex, "
    "pinning that Spark's JSON parser and a direct field grab agree on "
    "the corpus.",
    tags=("transform", "json", "events"),
)
def json_props_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.from_json(F.col("props"), "k long").getField("k")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )
