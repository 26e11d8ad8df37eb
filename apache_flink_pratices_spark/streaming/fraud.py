"""Streaming FraudDetector — keyed state + event-time timers
(SURVEY.md §2.6 W1/W2), the true stateful twin of the batch restatement in
:mod:`apache_flink_pratices_spark.operators.fraud`.

Reference semantics (``src/pyflink_examples/fraud_detection/
fraud_detector.py:39-149``), reproduced exactly as *documented* (i.e. with
watermarks flowing — the reference job itself assigns no watermark strategy,
``job.py:9``, so its runtime behavior differs from its own docs; see
``docs/fraud_semantics.md``):

- small tx (≤ SMALL): set boolean flag, record ``timer_state = ts + WINDOW``
  and register an event-time timer at that instant. A consecutive small
  OVERWRITES ``timer_state`` but does NOT delete the previously registered
  timer (``fraud_detector.py:103-110``) — the stale timer still fires and
  clears the flag.
- large tx (≥ LARGE) while flag set: emit alert, then clean up — which
  deletes only the timer recorded in ``timer_state`` (the latest one),
  again leaving earlier stale timers registered (``:135-149``).
- large tx without flag: clean up.
- mid-size tx: leave state untouched.
- timer fires: clear BOTH flag and ``timer_state`` unconditionally
  (``:116-133``) — even when ``timer_state`` points at a later timer.

Spark mapping: the keyed runner
(:func:`~apache_flink_pratices_spark.streaming.watermarks.run_keyed`)
drives one :class:`~apache_flink_pratices_spark.domain.rules.FraudMachine`
per account. Flink's timer *service* (many registered timers per key) is
richer than Spark's single timeout timestamp, so the armed-timer set lives
in the state tuple and the runner parks the single timeout on the earliest
armed timer; within a micro-batch, any armed timer strictly earlier than
the next event fires first (inside the machine) — the same interleaving a
Flink watermark produces record-by-record.

Scale: state per key is (bool, long, tiny long array) — O(1); each
micro-batch shuffles once on account_id; RocksDB state store (configured in
``session.tune``) keeps aggregate state off-heap, so key cardinality is
bounded by disk, not executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_flink_pratices_spark.domain.rules import FraudMachine
from apache_flink_pratices_spark.streaming.watermarks import drop_late, run_keyed

#: output schema of the streaming detector
ALERT_SCHEMA = "account_id bigint, alert_ts_us bigint, amount double"

#: per-key state: the reference's two ValueStates + the armed-timer set
#: emulating Flink's timer service ((flag, latest_timer_ms, armed_ms[]))
STATE_SCHEMA = "flag boolean, latest bigint, armed array<bigint>"


def fraud_alert_stream(transactions: DataFrame) -> DataFrame:
    """Wire a streaming transactions DataFrame through the detector.

    ``transactions`` must be a streaming DataFrame with ``account_id``,
    ``amount`` and the event-time timestamp ``ts``. Late data is dropped
    (reference stance, see :mod:`.watermarks`); state shuffles once on
    account_id.
    """
    # The watermarked timestamp column must survive projection for the
    # event-time timeout to bind; ts_us is what the machine consumes.
    src = drop_late(transactions, "ts").select(
        F.col("account_id").cast("long").alias("account_id"),
        F.col("ts").alias("ts"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("amount").cast("double").alias("amount"),
    )
    return run_keyed(src, "account_id", FraudMachine, ALERT_SCHEMA, STATE_SCHEMA)
