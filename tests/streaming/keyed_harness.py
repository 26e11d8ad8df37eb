"""Drive the keyed runner's step function (``watermarks.keyed_step``)
over micro-batches without Spark, the way ``applyInPandasWithState`` calls
it under ``drop_late``'s 0 s delay."""

from __future__ import annotations

import math

import pandas as pd


class GroupStateStub:
    """Stand-in for pyspark's ``GroupState`` under ``EventTimeTimeout``:
    the calls the runner makes, with Spark's rules that the timeout is
    reset on every call and may not be set below the watermark."""

    def __init__(self, value, watermark_ms: int, timed_out: bool) -> None:
        self.value = value
        self.watermark_ms = watermark_ms
        self.hasTimedOut = timed_out
        self.timeout_ms = None

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value) -> None:
        self.value = tuple(value)

    def remove(self) -> None:
        self.value = None

    def getCurrentWatermarkMs(self) -> int:
        return self.watermark_ms

    def setTimeoutTimestamp(self, ms: int) -> None:
        assert ms >= self.watermark_ms, (ms, self.watermark_ms)
        self.timeout_ms = ms


def run_micro_batches(step, rows: pd.DataFrame, key: str, chunks: int) -> list[tuple]:
    """Split ``rows`` (which carry ``ts_us``) into ``chunks`` micro-batches
    and drive ``step``: batch N sees the max event time of batches 1..N-1
    as its watermark; keys with rows run first, then every key whose
    timeout the watermark passed runs with ``hasTimedOut``; one final
    no-data batch runs at the last watermark. Returns every output row."""
    n = max(1, math.ceil(len(rows) / chunks))
    batches = [rows.iloc[i : i + n] for i in range(0, len(rows), n)]
    states: dict = {}
    timeouts: dict = {}
    out: list[tuple] = []
    wm = 0

    def call(k, pdfs, timed_out):
        st = GroupStateStub(states.get(k), wm, timed_out)
        for pdf in step((k,), pdfs, st):
            out.extend(pdf.itertuples(index=False, name=None))
        for d, v in ((states, st.value), (timeouts, st.timeout_ms)):
            if v is None:
                d.pop(k, None)
            else:
                d[k] = v

    for batch in batches + [rows.iloc[:0]]:
        for k, pdf in batch.groupby(key, sort=False):
            call(k, iter([pdf]), False)
        for k in [k for k, t in timeouts.items() if t < wm]:
            call(k, iter([]), True)
        if len(batch):
            wm = max(wm, int(batch["ts_us"].max()) // 1000)
    return out
