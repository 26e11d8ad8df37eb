"""Event-time & late-data policy (SURVEY.md §2.6 W3), and the one keyed
runner that turns it into event-time timers.

The reference's CEP design is explicit: *no allowed lateness — a late market
event is a lost opportunity, drop it* (reference ``docs/project docs/2. CEP
레이어 구현 설계 및 체크리스트.md:207``). Its fraud job assigns no watermark
strategy at all (``src/pyflink_examples/fraud_detection/job.py:9``), so at
runtime timers only fire on the end-of-input watermark.

Spark requires a watermark for stateful cleanup; a 0-second watermark
reproduces the drop-late design stance while still letting state age out.

:func:`run_keyed` is the only code that touches ``GroupState``: the fraud,
CEP and trend streams each hand it a framework-free machine, and it owns
the Flink timer contract they share (keyed state plus event-time timers
that fire once the watermark passes them).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def drop_late(df: DataFrame, ts_col: str, delay: str = "0 seconds") -> DataFrame:
    """Apply the engine's late-data policy via a watermark.

    Every stateful operator, ``applyInPandasWithState`` included, drops
    the rows at or behind the *previous* micro-batch's watermark and counts
    them in ``numRowsDroppedByWatermark``. A row between that watermark and
    the current one (late by less than a micro-batch) still reaches the
    processor, so :func:`run_keyed` finishes the reference's late-data
    stance itself: each key's rows are walked in event-time order (such a
    row re-enters the timeline deterministically), and every timer the
    watermark has reached fires at end of batch, so a late row can never
    leave a stale timer armed."""
    return df.withWatermark(ts_col, delay)


def keyed_step(machine: type, output_schema: str):
    """The ``applyInPandasWithState`` function driving ``machine``.

    A machine class provides ``restore(key, state)`` (``state`` is the
    persisted tuple, or None for a new key), ``process_row(row)``,
    ``fire(watermark_ms)`` (fire every timer at or below it), ``state``
    (the tuple to persist), ``empty``, ``next_deadline_ms()`` (its earliest
    armed timer, or None) and ``output`` (rows emitted so far, without the
    key). Per call the step:

    - feeds the batch's rows in ``ts_us`` order (stable, so equal
      timestamps keep arrival order); a timed-out call has no rows;
    - fires every timer the watermark has reached — on the timed-out path
      and at batch end alike, since a timer the watermark passed would
      have been a timeout callback had no rows arrived;
    - persists the state tuple, or removes it once the machine is empty;
    - parks Spark's single event-time timeout on the earliest remaining
      timer, kept only when it is later than the watermark. Spark times a
      key out once the watermark is strictly past its timeout, while a
      timer fires once the watermark reaches it, so the timeout sits 1 ms
      before the timer (and Spark rejects one below the watermark);
    - emits the output rows, each prefixed by the key.
    """
    # output schemas are flat "name type, ..." lists
    columns = [field.split()[0] for field in output_schema.split(",")]

    def step(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        m = machine.restore(key[0], state.get if state.exists else None)
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            for row in rows.sort_values("ts_us", kind="mergesort").itertuples(index=False):
                m.process_row(row)
        wm = state.getCurrentWatermarkMs()
        m.fire(wm)

        if m.empty:
            if state.exists:
                state.remove()
        else:
            state.update(m.state)
            deadline = m.next_deadline_ms()
            if deadline is not None and deadline > wm:
                state.setTimeoutTimestamp(deadline - 1)
        if m.output:
            yield pd.DataFrame([(key[0], *r) for r in m.output], columns=columns)

    return step


def run_keyed(
    df: DataFrame, key: str, machine: type, output_schema: str, state_schema: str
) -> DataFrame:
    """Group ``df`` by ``key`` and run one ``machine`` per key through
    :func:`keyed_step`, with the machine's state persisted as one
    ``state_schema`` tuple per key and event-time timeouts."""
    return df.groupBy(key).applyInPandasWithState(
        keyed_step(machine, output_schema),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
