"""Collection source (S1) — bounded in-memory rows as a batch DataFrame or
as a file-backed stream for exercising streaming operators in tests, plus
:func:`drain`, which runs such a stream to completion into a memory table.

Reference: ``env.from_collection(...)`` at ``src/pyflink_examples/
fraud_detection/job.py:124-127``, ``examples/word_count.py:41``,
``examples/stream_source_example.py:16,32-36``.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def from_collection(
    spark: SparkSession, rows: Iterable[Any], schema: T.StructType | str
) -> DataFrame:
    """Bounded collection → batch DataFrame (the reference's S1)."""
    return spark.createDataFrame(list(rows), schema)


def stream_from_collection(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: T.StructType | str,
    staging_dir: str,
    chunks: int = 1,
) -> DataFrame:
    """Bounded collection → *streaming* DataFrame via a parquet file source.

    Rows are written to ``staging_dir`` in ``chunks`` files; a file-source
    readStream over the directory replays them (one micro-batch per
    trigger). This is the test harness for streaming operators without a
    broker — the structural analogue of Flink's from_collection feeding a
    streaming job.
    """
    rows = list(rows)
    os.makedirs(staging_dir, exist_ok=True)
    n = max(1, min(chunks, len(rows)))
    size = (len(rows) + n - 1) // n
    for i in range(n):
        chunk = rows[i * size : (i + 1) * size]
        if chunk:
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(
                staging_dir
            )
    reader_schema = spark.read.parquet(staging_dir).schema
    return spark.readStream.schema(reader_schema).option("maxFilesPerTrigger", 1).parquet(
        staging_dir
    )


def drain(
    df: DataFrame, name: str, checkpoint: str, output_mode: str = "append"
) -> StreamingQuery:
    """Run streaming ``df`` into the memory table ``name`` until its
    bounded input is exhausted, then stop it. Returns the stopped query,
    whose ``recentProgress`` stays readable; read the rows with
    ``spark.table(name)``."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q
