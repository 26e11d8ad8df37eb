"""Streaming windowed aggregation: tumbling windows finalize in append mode
once the watermark passes; results must equal the batch formulation."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.windows import window_agg

BASE = datetime.datetime(2021, 1, 1)

EVENTS = [
    ("click", BASE + datetime.timedelta(seconds=1), 1.0),
    ("click", BASE + datetime.timedelta(seconds=2), 3.0),
    ("view", BASE + datetime.timedelta(seconds=3), 5.0),
    # next window
    ("click", BASE + datetime.timedelta(seconds=11), 7.0),
    # much later event advances the watermark past both windows above
    ("view", BASE + datetime.timedelta(seconds=60), 9.0),
]


def test_sliding_stream_fanout(spark, tmp_path):
    src = stream_from_collection(
        spark, EVENTS, "etype string, ts timestamp, v double",
        os.path.join(str(tmp_path), "in2"), chunks=1,
    )
    out = window_agg(
        src, "ts", ["etype"], [F.count("*").alias("n")],
        size="10 seconds", slide="5 seconds",
    )
    drain(out, "slide", os.path.join(str(tmp_path), "ckpt2"))
    rows = spark.sql("SELECT * FROM slide WHERE etype = 'click'").collect()
    t0 = int(BASE.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    got = {(r.win_start_us - t0) // 1_000_000: r.n for r in rows}
    # events at 1s,2s land in windows starting -5s and 0s; event at 11s in
    # windows 5s and 10s (size/slide = 2 windows per event); all finalized
    # by the 60s watermark advance.
    assert got == {-5: 2, 0: 2, 5: 1, 10: 1}, got


def test_tumbling_stream_matches_batch(spark, tmp_path):
    src = stream_from_collection(
        spark, EVENTS, "etype string, ts timestamp, v double",
        os.path.join(str(tmp_path), "in"), chunks=2,
    )
    out = window_agg(
        src, "ts", ["etype"], [F.count("*").alias("n"), F.sum("v").alias("total")],
        size="10 seconds",
    )
    drain(out, "tumble", os.path.join(str(tmp_path), "ckpt"))
    rows = spark.sql("SELECT * FROM tumble").collect()
    got = {(r.win_start_us, r.etype): (r.n, r.total) for r in rows}
    # append mode only emits finalized windows (watermark passed window end):
    # the two 0-10s / 10-20s windows are final; the 60s window is still open.
    t0 = int(BASE.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    assert got == {
        (t0, "click"): (2, 4.0),
        (t0, "view"): (1, 5.0),
        (t0 + 10_000_000, "click"): (1, 7.0),
    }


def test_window_golden_drops_exactly_the_post_emission_late_row(spark):
    """W3: the golden corpus's last-file late row must be dropped BY THE
    ENGINE (numRowsDroppedByWatermark), not merely absent from output —
    and the in-state late merge means no other row may be dropped."""
    import tempfile

    from apache_flink_pratices_spark.operators.streaming_golden import _WINDOW_ROWS

    base =datetime.datetime(2021, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (k, base + datetime.timedelta(seconds=off), v) for k, off, v in _WINDOW_ROWS
    ]
    with tempfile.TemporaryDirectory() as d:
        src = stream_from_collection(
            spark, rows, "key string, ts timestamp, v long",
            os.path.join(d, "in"), chunks=4,
        )
        agg = window_agg(
            src, "ts", ["key"],
            [F.count("*").alias("cnt"), F.sum("v").alias("total")],
            size="30 seconds", delay="10 seconds",
        )
        q = drain(agg, "wm_drop_probe", os.path.join(d, "ckpt"))
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        assert dropped == 1, dropped
