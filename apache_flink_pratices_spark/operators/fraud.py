"""Fraud detection — the reference's flagship operator (SURVEY.md §2.6 W1/J2).

Reference semantics (``src/pyflink_examples/fraud_detection/fraud_detector.py:
39-149``): per-account keyed state machine —

- a *small* transaction (amount ≤ SMALL) sets a boolean flag and arms an
  event-time timer at ``ts + WINDOW``;
- a *large* transaction (amount ≥ LARGE) while the flag is set emits an
  alert; any large transaction clears the flag (``fraud_detector.py:111-114``);
- the timer clears a stale flag after WINDOW (``:116-133``);
- mid-size transactions leave the flag untouched.

Batch formulation (this module): for every large event, look at the most
recent *small-or-large* event of the same key; alert iff that event is
small and within WINDOW. This is a pure window-function plan — one shuffle
on the key, no self-join explosion, fully scalable — and it is the
*lag-based* reading of the state machine: the window is measured from the
MOST RECENT small. The reference's timer semantics measure it from the
FIRST small of an uninterrupted run (a stale timer clears the flag;
``fraud_detector.py:103-110``), so on a consecutive-smalls run the two
diverge. The divergence is intentional (the lag form is the one a
relational engine and the DuckDB oracle can state exactly), pinned by
``test_batch_diverges_on_consecutive_smalls``, and documented in
``docs/fraud_semantics.md``.

The streaming path (true per-event state + timers via the keyed runner,
``streaming.watermarks.run_keyed``) lives in
:mod:`apache_flink_pratices_spark.streaming.fraud`, implements the timer
semantics faithfully, and reuses the same thresholds from
:mod:`apache_flink_pratices_spark.domain.rules`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_pratices_spark.domain.rules import LARGE_AMOUNT, SMALL_AMOUNT, WINDOW_US
from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.registry import register


@register(
    "fraud_alerts",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, value,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             LAG(value) OVER w AS prev_value,
             LAG(CAST(epoch_us(ts) AS BIGINT)) OVER w AS prev_ts_us
      FROM events
      WHERE value <= {SMALL_AMOUNT} OR value >= {LARGE_AMOUNT}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id AS account_id, event_id AS alert_event_id, value AS amount,
           ts_us - prev_ts_us AS gap_us
    FROM flagged
    WHERE value >= {LARGE_AMOUNT}
      AND prev_value <= {SMALL_AMOUNT}
      AND ts_us - prev_ts_us <= {WINDOW_US}
    """,
    doc="W1/J2: small-then-large fraud pattern per key (batch oracle of the "
    "keyed-state detector, fraud_detector.py:39-149).",
    bench=True,
    tags=("cep", "stateful"),
)
def fraud_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    return detect(e, SMALL_AMOUNT, LARGE_AMOUNT, WINDOW_US)


def detect(events: DataFrame, small: float, large: float, window_us: int) -> DataFrame:
    """Batch fraud detector over (user_id, event_id, value, ts_us) rows.

    Used by the registered query above (driver-scale thresholds) and by the
    fixture tests with the reference's original constants on the canonical
    12-transaction corpus (FIXTURES.md §1).
    """
    # Pre-filter to state-relevant events *before* the shuffle: only
    # small/large rows participate, everything else is dropped at the scan.
    relevant = events.filter((F.col("value") <= small) | (F.col("value") >= large))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = relevant.select(
        "user_id",
        "event_id",
        "value",
        "ts_us",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("ts_us").over(w).alias("prev_ts_us"),
    )
    return flagged.filter(
        (F.col("value") >= large)
        & (F.col("prev_value") <= small)
        & ((F.col("ts_us") - F.col("prev_ts_us")) <= window_us)
    ).select(
        F.col("user_id").alias("account_id"),
        F.col("event_id").alias("alert_event_id"),
        F.col("value").alias("amount"),
        (F.col("ts_us") - F.col("prev_ts_us")).alias("gap_us"),
    )
