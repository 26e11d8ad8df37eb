"""Native session windows in streaming mode (the streaming twin of the
batch lag-based sessionization in operators/windows.py): gap-merged
sessions finalize in append mode once the watermark passes."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.watermarks import drop_late

BASE = datetime.datetime(2021, 1, 1)


def test_session_window_streaming(spark, tmp_path):
    def row(user, sec):
        return (user, BASE + datetime.timedelta(seconds=sec))

    events = [
        row(1, 0), row(1, 5), row(1, 8),      # session A: 3 events
        row(1, 40), row(1, 45),               # session B after >10s gap
        row(2, 0),                            # session C
        row(1, 1000), row(2, 1000),           # far future: advances watermark
    ]
    src = stream_from_collection(
        spark, events, "user_id long, ts timestamp",
        os.path.join(str(tmp_path), "in"), chunks=2,
    )
    sessions = (
        drop_late(src, "ts")
        .groupBy(F.session_window("ts", "10 seconds").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
        )
    )
    drain(sessions, "sess", os.path.join(str(tmp_path), "ckpt"))
    rows = spark.sql("SELECT * FROM sess ORDER BY user_id, start_us").collect()
    base_us = int(BASE.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    got = [(r.user_id, (r.start_us - base_us) // 1_000_000, r.n_events) for r in rows]
    # the 1000s events' sessions are still open (not finalized) in append mode
    assert got == [(1, 0, 3), (1, 40, 2), (2, 0, 1)], got
    # session A's window end extends gap past the last event: 8s + 10s
    a = rows[0]
    assert (a.end_us - base_us) // 1_000_000 == 18
