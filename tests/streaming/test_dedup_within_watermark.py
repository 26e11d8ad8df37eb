"""The reference's exactly-once stance (시스템 아키텍처.md:1326-1360):
at-least-once delivery + deterministic W7 signal ids + downstream dedup.
Spark's `dropDuplicatesWithinWatermark` is that downstream dedup — replayed
signals with the same id inside the watermark horizon must emit once."""

from __future__ import annotations

import datetime
import os

from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.watermarks import drop_late

BASE = datetime.datetime(2021, 1, 1)


def test_replayed_signal_ids_dedupe(spark, tmp_path):
    def row(sec, sid, value):
        return (sid, BASE + datetime.timedelta(seconds=sec), value)

    rows = [
        row(1, "sig-a", 10.0),
        row(2, "sig-b", 20.0),
        row(2, "sig-b", 20.0),  # duplicate within the same batch
        # chunk 2 replays sig-a (at-least-once redelivery)
        row(3, "sig-a", 10.0),
        row(4, "sig-c", 30.0),
    ]
    src = stream_from_collection(
        spark,
        rows,
        "signal_id string, ts timestamp, value double",
        os.path.join(str(tmp_path), "in"),
        chunks=2,
    )
    deduped = drop_late(src, "ts", "10 seconds").dropDuplicatesWithinWatermark(
        ["signal_id"]
    )
    drain(deduped, "dedup_wm", os.path.join(str(tmp_path), "ckpt"))
    out = spark.sql("SELECT signal_id FROM dedup_wm").collect()
    ids = sorted(r.signal_id for r in out)
    assert ids == ["sig-a", "sig-b", "sig-c"], ids
