"""Streaming event-time windowed aggregation (SURVEY.md §2.4 A2/A3/A6) —
the streaming twins of :mod:`apache_flink_pratices_spark.operators.windows`.

The designed CEP layer aggregates per-code trade volume over sliding
event-time windows (``SlidingEventTimeWindows.of(5s, 1s)``, reference
``docs/project docs/호가창 분석 스캘퍼: 시스템 아키텍처.md:641-648``) and a
trailing mean as the density baseline (``:569-583``). Spark expresses both
with ``window()`` over a watermarked stream; the same column expressions
drive the batch twins, so correctness is checked there against the DuckDB
oracle and this wrapper only adds watermark + output-mode policy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_flink_pratices_spark.streaming.watermarks import drop_late


def window_agg(
    stream: DataFrame,
    ts_col: str,
    key_cols: list[str],
    aggs: list[Column],
    size: str,
    slide: str | None = None,
    delay: str = "0 seconds",
) -> DataFrame:
    """Event-time window aggregate, append-mode capable (windows finalize
    when the watermark passes their end). Tumbling by default (``slide``
    equal to ``size``); a shorter ``slide`` gives sliding windows, whose
    fan-out happens JVM-side before partial aggregation."""
    agged = (
        drop_late(stream, ts_col, delay)
        .groupBy(F.window(ts_col, size, slide).alias("w"), *key_cols)
        .agg(*aggs)
    )
    value_cols = [c for c in agged.columns if c != "w" and c not in key_cols]
    return agged.select(
        F.unix_micros(F.col("w.start")).alias("win_start_us"), *key_cols, *value_cols
    )
