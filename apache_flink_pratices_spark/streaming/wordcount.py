"""Streaming word count in update output mode (SURVEY.md §2.4 A1).

The reference's keyed ``reduce`` (``examples/word_count.py:21-25,44-48``)
emits a running per-key total for *every* incoming record. Spark's
micro-batch analogue is the same aggregation in ``update`` output mode:
each batch emits one updated row per key that changed — the same state
trajectory observed at batch granularity instead of record granularity
(SURVEY.md §3.2 discusses why final per-key values, not the emission log,
are the deterministic comparison surface).

The aggregation itself is identical to the batch
:func:`apache_flink_pratices_spark.operators.text.wordcount` — explode +
groupBy, JVM-side, partial aggregation before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def wordcount_stream(lines: DataFrame) -> DataFrame:
    """lines (streaming, a ``line`` column) → running (word, cnt). Pair with
    ``writeStream.outputMode("update")`` for Flink reduce semantics."""
    return (
        lines.select(F.explode(F.split(F.lower(F.col("line")), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
