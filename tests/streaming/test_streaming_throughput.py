"""Streaming throughput gate: the stateful fraud path must sustain well
above the reference's delivery-side baseline (~1k msg/s async Kafka
producer, 시스템 아키텍처.md:483) end to end — source → shuffle → keyed
state in Python → sink."""

from __future__ import annotations

import datetime
import os
import time

from apache_flink_pratices_spark.sources.collection import drain
from apache_flink_pratices_spark.streaming.bench_streams import FRAUD_SCHEMA, fraud_rows
from apache_flink_pratices_spark.streaming.fraud import fraud_alert_stream

N_TX = 50_000
BASE = datetime.datetime(2021, 1, 1)


def test_stateful_fraud_throughput(spark, tmp_path):
    in_dir = os.path.join(str(tmp_path), "in")
    spark.createDataFrame(fraud_rows(N_TX), FRAUD_SCHEMA).coalesce(4).write.parquet(in_dir)

    src = spark.readStream.schema(FRAUD_SCHEMA).parquet(in_dir)
    t0 = time.perf_counter()
    drain(fraud_alert_stream(src), "fraud_tput", os.path.join(str(tmp_path), "ckpt"))
    wall = time.perf_counter() - t0
    rate = N_TX / wall
    n_alerts = spark.sql("SELECT COUNT(*) AS n FROM fraud_tput").collect()[0].n
    assert n_alerts > 0, "the workload must actually exercise alert emission"
    # 5× the reference's 1k msg/s producer baseline, end to end
    assert rate >= 5_000, f"stateful throughput {rate:.0f} tx/s < 5k gate"


def test_stateful_trend_throughput(spark, tmp_path):
    """The trend detector (buffer + window fold per key) must also clear
    the reference's 1k msg/s delivery baseline end to end."""
    from apache_flink_pratices_spark.streaming.trend import trend_stream

    n_trades, n_codes = 20_000, 200
    rows = []
    for i in range(n_trades):
        code = f"C{i % n_codes}"
        # volumes cycle downward so transitions actually fire
        vol = float(10 - (i // n_codes) % 8)
        rows.append((code, BASE + datetime.timedelta(milliseconds=i * 5), vol))
    in_dir = os.path.join(str(tmp_path), "trend_in")
    spark.createDataFrame(
        rows, "code string, ts timestamp, volume double"
    ).coalesce(4).write.parquet(in_dir)

    src = spark.readStream.schema("code string, ts timestamp, volume double").parquet(
        in_dir
    )
    t0 = time.perf_counter()
    drain(trend_stream(src), "trend_tput", os.path.join(str(tmp_path), "tckpt"))
    wall = time.perf_counter() - t0
    rate = n_trades / wall
    n_events = spark.sql("SELECT COUNT(*) AS n FROM trend_tput").collect()[0].n
    assert n_events > 0, "the workload must actually emit trend transitions"
    assert rate > 2_000, f"{rate:.0f} rows/s is below 2x the 1k baseline"


def test_cdc_compaction_throughput(spark, tmp_path):
    """The streaming CDC compaction (complete-mode max_by snapshot) must
    clear the same 1k msg/s delivery baseline with headroom: the state
    per key is one struct, so throughput is bounded by the keyed
    shuffle, not state size."""
    import pyspark.sql.functions as F

    n_events, n_users = 50_000, 1_000
    rows = []
    for i in range(n_events):
        uid = i % n_users
        etype = "error" if i % 17 == 0 else "view"
        rows.append(
            (uid, BASE + datetime.timedelta(milliseconds=i), etype, float(i % 100), i)
        )
    in_dir = os.path.join(str(tmp_path), "in")
    schema = "user_id long, ts timestamp, event_type string, value double, event_id long"
    spark.createDataFrame(rows, schema).coalesce(4).write.parquet(in_dir)

    src = spark.readStream.schema(schema).parquet(in_dir)
    state = F.struct(F.col("ts"), F.col("event_type"), F.col("value"))
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    snap = (
        src.groupBy("user_id")
        .agg(F.max_by(state, ord_key).alias("s"))
        .filter(F.col("s.event_type") != "error")
    )
    t0 = time.perf_counter()
    drain(snap, "cdc_tput", os.path.join(str(tmp_path), "ckpt"), output_mode="complete")
    wall = time.perf_counter() - t0
    rate = n_events / wall
    n_live = spark.sql("SELECT COUNT(*) AS n FROM cdc_tput").collect()[0].n
    assert 0 < n_live <= n_users
    assert rate >= 5_000, f"cdc compaction throughput {rate:.0f} ev/s < 5k gate"
