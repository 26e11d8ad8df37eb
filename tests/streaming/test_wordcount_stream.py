"""Streaming word count in update mode (A1): Flink's keyed reduce emits a
running total per record; Spark's update output mode emits the updated
per-key total each micro-batch. The deterministic comparison surface is the
final per-key value (SURVEY.md §3.2)."""

from __future__ import annotations

import os

from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.wordcount import wordcount_stream

LINES_B1 = [("hello world",), ("hello spark",)]
LINES_B2 = [("hello world world",)]


def test_update_mode_running_totals(spark, tmp_path):
    src = stream_from_collection(
        spark,
        LINES_B1 + LINES_B2,
        "line string",
        os.path.join(str(tmp_path), "in"),
        chunks=3,
    )
    counts = wordcount_stream(src)
    drain(counts, "wc", os.path.join(str(tmp_path), "ckpt"), "update")
    rows = spark.sql("SELECT * FROM wc").collect()
    # update mode re-emits a key each batch it changes: 'hello' appears in
    # multiple batches — the running-total emission log of Flink's reduce.
    hello_updates = sorted(r.cnt for r in rows if r.word == "hello")
    assert len(hello_updates) >= 2, "update mode should re-emit changed keys"
    # final value per key = last update
    final = {}
    for r in rows:
        final[r.word] = max(final.get(r.word, 0), r.cnt)
    assert final == {"hello": 3, "world": 3, "spark": 1}
