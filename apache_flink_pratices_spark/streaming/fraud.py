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

Spark mapping: ``applyInPandasWithState`` with
``GroupStateTimeout.EventTimeTimeout``. Flink's timer *service* (many
registered timers per key) is richer than Spark's single timeout timestamp,
so the armed-timer set lives in the group state itself and the single Spark
timeout is always parked on the earliest armed timer; the timeout callback
fires every armed timer the watermark has passed. Within a micro-batch,
rows are walked in event-time order and any armed timer strictly earlier
than the next event fires first — the same interleaving a Flink watermark
produces record-by-record.

Scale: state per key is (bool, long, tiny long array) — O(1); each
micro-batch shuffles once on account_id; RocksDB state store (configured in
``session.tune``) keeps aggregate state off-heap, so key cardinality is
bounded by disk, not executor memory.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from apache_flink_pratices_spark.domain.rules import (
    REF_LARGE_AMOUNT,
    REF_SMALL_AMOUNT,
    REF_WINDOW_MS,
    FraudMachine,
)
from apache_flink_pratices_spark.streaming.watermarks import drop_late

#: output schema of the streaming detector
ALERT_SCHEMA = "account_id bigint, alert_ts_us bigint, amount double"

#: per-key state: the reference's two ValueStates + the armed-timer set
#: emulating Flink's timer service ((flag, latest_timer_ms, armed_ms[]))
STATE_SCHEMA = "flag boolean, latest bigint, armed array<bigint>"


def make_detector(
    small: float = REF_SMALL_AMOUNT,
    large: float = REF_LARGE_AMOUNT,
    window_ms: int = REF_WINDOW_MS,
):
    """Build the applyInPandasWithState function with bound thresholds."""

    def detect(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        flag, latest, armed = (
            state.get if state.exists else (None, None, [])
        )
        m = FraudMachine(flag, latest, list(armed or []), small, large, window_ms)
        account_id = int(key[0])

        if state.hasTimedOut:
            # Watermark passed the earliest armed timer: fire every timer
            # the watermark has reached (Flink fires all timers ≤ WM).
            m.fire_due(state.getCurrentWatermarkMs())
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values("ts_us", kind="mergesort")
            for row in rows.itertuples(index=False):
                m.on_event(int(row.ts_us) // 1000, int(row.ts_us), float(row.amount))
            # Timers the watermark already passed fire before the batch ends
            # (they would have been timeout callbacks had no rows arrived).
            m.fire_due(state.getCurrentWatermarkMs())

        if m.empty:
            if state.exists:
                state.remove()
        else:
            state.update((m.flag, m.latest, m.armed))
            if m.armed:
                state.setTimeoutTimestamp(m.armed[0])

        if m.alerts:
            yield pd.DataFrame(
                [(account_id, ts_us, amt) for ts_us, amt in m.alerts],
                columns=["account_id", "alert_ts_us", "amount"],
            )

    return detect


def fraud_alert_stream(
    transactions: DataFrame,
    ts_col: str = "ts",
    account_col: str = "account_id",
    amount_col: str = "amount",
    small: float = REF_SMALL_AMOUNT,
    large: float = REF_LARGE_AMOUNT,
    window_ms: int = REF_WINDOW_MS,
) -> DataFrame:
    """Wire a streaming transactions DataFrame through the detector.

    ``transactions`` must be a streaming DataFrame with an event-time
    timestamp column. Late data is dropped (reference stance, see
    :mod:`.watermarks`); state shuffles once on account_id. The keyed
    state and its armed-timer set live in one
    :class:`~apache_flink_pratices_spark.domain.rules.FraudMachine` per
    key, persisted as one ``applyInPandasWithState`` state tuple.
    """
    # The watermarked timestamp column must survive projection for the
    # event-time timeout to bind; ts_us is what the processor consumes.
    src = drop_late(transactions, ts_col).select(
        F.col(account_col).cast("long").alias("account_id"),
        F.col(ts_col).alias("ts"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(amount_col).cast("double").alias("amount"),
    )
    return src.groupBy("account_id").applyInPandasWithState(
        make_detector(small, large, window_ms),
        outputStructType=ALERT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
