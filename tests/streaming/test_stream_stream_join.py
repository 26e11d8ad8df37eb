"""Watermarked stream-stream interval join — the streaming twin of the
batch temporal correlation (J2): orders correlate with payments that land
within a bounded interval after them, with both sides' state evicted by
watermark + join-condition bounds (Spark drops a buffered row once no
future match can satisfy the time bound)."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.watermarks import drop_late

BASE = datetime.datetime(2021, 1, 1)


def _ts(sec):
    return BASE + datetime.timedelta(seconds=sec)


def test_interval_join_emits_only_in_window_pairs(spark, tmp_path):
    orders = [
        (1, _ts(0), 100.0),
        (2, _ts(10), 250.0),
        (3, _ts(20), 75.0),   # never paid
        (9, _ts(1000), 1.0),  # watermark pusher
    ]
    payments = [
        (1, _ts(5), "card"),     # within 30s of order 1 → match
        (2, _ts(45), "wire"),    # 35s after order 2 → outside the bound
        (4, _ts(6), "card"),     # no such order
        (9, _ts(1000), "card"),  # watermark pusher (joins with order 9)
    ]
    o = drop_late(
        stream_from_collection(
            spark, orders, "order_id long, o_ts timestamp, amount double",
            os.path.join(str(tmp_path), "o"), chunks=2,
        ),
        "o_ts",
        delay="5 seconds",
    )
    p = drop_late(
        stream_from_collection(
            spark, payments, "order_id long, p_ts timestamp, method string",
            os.path.join(str(tmp_path), "p"), chunks=2,
        ),
        "p_ts",
        delay="5 seconds",
    )
    joined = o.join(
        p,
        (o.order_id == p.order_id)
        & (p.p_ts >= o.o_ts)
        & (p.p_ts <= o.o_ts + F.expr("INTERVAL 30 SECONDS")),
    ).select(o.order_id, "amount", "method", "o_ts", "p_ts")

    drain(joined, "ssj", os.path.join(str(tmp_path), "ckpt"))
    rows = spark.sql("SELECT order_id, amount, method FROM ssj ORDER BY order_id").collect()
    got = [(r.order_id, r.amount, r.method) for r in rows]
    assert got == [(1, 100.0, "card"), (9, 1.0, "card")], got
