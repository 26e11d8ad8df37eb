"""W8: checkpointing / recovery — keyed state must survive a query
restart. A small transaction arrives in run 1; the query is stopped; the
matching large transaction arrives in run 2 started from the SAME
checkpoint. The alert can only fire if the flag state was recovered."""

from __future__ import annotations

import datetime
import os

from apache_flink_pratices_spark.streaming.fraud import fraud_alert_stream

BASE = datetime.datetime(2021, 1, 1)
SCHEMA = "account_id long, ts timestamp, amount double"


def _rows(txs):
    return [
        (acct, BASE + datetime.timedelta(milliseconds=off), amount)
        for acct, off, amount in txs
    ]


def _start(spark, in_dir, ckpt, out_dir):
    # file sink (not memory): the fault-tolerant sink family that supports
    # restart-from-checkpoint
    src = spark.readStream.schema(SCHEMA).parquet(in_dir)
    q = (
        fraud_alert_stream(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _run_once(spark, in_dir, ckpt, out_dir):
    _start(spark, in_dir, ckpt, out_dir)
    return spark.read.parquet(out_dir).collect()


def test_state_survives_restart(spark, tmp_path):
    in_dir = os.path.join(str(tmp_path), "in")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    out_dir = os.path.join(str(tmp_path), "out")

    # run 1: only the small transaction — arms the flag, no alert yet
    spark.createDataFrame(
        _rows([(50, 0, 0.50)]), SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    out1 = _run_once(spark, in_dir, ckpt, out_dir)
    assert out1 == []

    # run 2 (fresh query, same checkpoint): the large transaction within
    # the 60s window — alerts ONLY if the recovered state still holds the
    # flag from run 1
    spark.createDataFrame(
        _rows([(50, 30_000, 900.00)]), SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    out2 = _run_once(spark, in_dir, ckpt, out_dir)
    assert [(r.account_id, r.amount) for r in out2] == [(50, 900.00)]


def test_restart_does_not_reprocess(spark, tmp_path):
    """The checkpoint's source offsets make the restart exactly-once w.r.t.
    input files: run 2 must not re-emit or duplicate run 1's processing."""
    in_dir = os.path.join(str(tmp_path), "in")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    out_dir = os.path.join(str(tmp_path), "out")
    spark.createDataFrame(
        _rows([(60, 0, 0.50), (60, 10_000, 800.00)]), SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    out1 = _run_once(spark, in_dir, ckpt, out_dir)
    assert len(out1) == 1  # alert emitted in run 1

    # restart with no new data: the sink must still hold exactly one alert
    # (no reprocessing, no duplicates)
    out2 = _run_once(spark, in_dir, ckpt, out_dir)
    assert len(out2) == 1


def test_restart_keeps_the_checkpoints_state_width(spark, tmp_path):
    """A checkpoint keeps the state width it was started with: Spark
    restores ``spark.sql.shuffle.partitions`` from the offset log, so a
    checkpoint written at another width (an older default, another box)
    restarts safely under today's session width, with its state intact."""
    in_dir = os.path.join(str(tmp_path), "in")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    out_dir = os.path.join(str(tmp_path), "out")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        spark.createDataFrame(
            _rows([(70, 0, 0.50)]), SCHEMA
        ).coalesce(1).write.mode("append").parquet(in_dir)
        assert _run_once(spark, in_dir, ckpt, out_dir) == []

        spark.conf.set(key, "4")
        spark.createDataFrame(
            _rows([(70, 30_000, 900.00)]), SCHEMA
        ).coalesce(1).write.mode("append").parquet(in_dir)
        q = _start(spark, in_dir, ckpt, out_dir)
    finally:
        spark.conf.set(key, prev)
    widths = {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    }
    assert widths == {2}
    out = spark.read.parquet(out_dir).collect()
    assert [(r.account_id, r.amount) for r in out] == [(70, 900.00)]
