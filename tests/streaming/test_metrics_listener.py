"""W9/A6: the StreamingQueryListener metrics surface — per-batch input
rows, processing rate, batch durations and state rows collected from a
real streaming query."""

from __future__ import annotations

import os
import time

from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.metrics import attach_metrics, detach_metrics
from apache_flink_pratices_spark.streaming.wordcount import wordcount_stream


def test_listener_collects_progress(spark, tmp_path):
    listener = attach_metrics(spark)
    try:
        src = stream_from_collection(
            spark,
            [("hello world",), ("hello metrics",)],
            "line string",
            os.path.join(str(tmp_path), "in"),
            chunks=2,
        )
        drain(
            wordcount_stream(src), "wc_metrics", os.path.join(str(tmp_path), "ckpt"),
            output_mode="update",
        )
        # listener events are delivered asynchronously
        deadline = time.time() + 20
        while time.time() < deadline:
            snap = listener.snapshot("wc_metrics")
            if snap.batches >= 2 and snap.total_input_rows >= 2:
                break
            time.sleep(0.2)
        snap = listener.snapshot("wc_metrics")
        assert snap.batches >= 2
        assert snap.total_input_rows == 2
        assert snap.batch_durations_ms, "batch durations must be recorded"
        assert snap.state_rows >= 3  # hello/world/metrics in the agg state
    finally:
        detach_metrics(spark, listener)
