"""A2 trend rule: sliding-window average trade volume turning into a
decreasing trend (SURVEY §2.6; reference ``docs/project docs/호가창 분석
스캘퍼: 시스템 아키텍처.md:641-648``).

The reference specifies Flink ``SlidingEventTimeWindows.of(5s, 1s)`` over
the trade stream, avg(volume) per window, and a ValueState comparison
against the previous window's average — the sell precondition fires when
the average has decreased ``CONSEC_DECREASES`` (2) times in a row.

Spark mapping: the window assignment itself (epoch-aligned 5 s windows
every 1 s, a window exists only if it contains ≥1 trade) is exactly what
``F.window(ts, '5 seconds', '1 second')`` produces — but the *sequential*
"compare each window's average with the previous fired window's"
judgment needs ordered state across window results, which cannot chain
after a streaming aggregation in append mode. So the whole rule runs as
ONE keyed stateful operator (the keyed runner,
:func:`~apache_flink_pratices_spark.streaming.watermarks.run_keyed` — the
same CoProcessFunction-shaped home the reference's own pseudo-code uses):
per key, buffer trades within the sliding horizon, and when the
watermark passes an aligned window end, fold that window's average into
the (prev_avg, streak) ValueState, emitting a row whenever the streak
*reaches* ``CONSEC_DECREASES`` (the trend transition — not on every
further decrease).

Scale: per-key state is the 5 s trade buffer plus three scalars — O(rate
× window), independent of stream length; each micro-batch shuffles once
on ``code``; window firing walks only the ≤ 5×|buffer| candidate ends
derivable from buffered trades, never the wall-clock gap since the last
batch, so a key waking after a quiet day does constant work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_flink_pratices_spark.domain.rules import CONSEC_DECREASES
from apache_flink_pratices_spark.streaming.watermarks import drop_late, run_keyed

#: reference window geometry (시스템 아키텍처.md:644): 5 s size, 1 s slide
TREND_WINDOW_MS = 5_000
TREND_SLIDE_MS = 1_000

TREND_SCHEMA = (
    "code string, trend_ts_us bigint, avg_vol double, prev_avg double"
)

STATE_SCHEMA = (
    "buf array<struct<ts_us bigint, vol double>>, "
    "prev_avg double, streak int, last_end_ms bigint"
)


class TrendMachine:
    """One key's sliding-window trend state, framework-free."""

    def __init__(
        self,
        buf: list[tuple[int, float]] | None = None,
        prev_avg: float | None = None,
        streak: int = 0,
        last_end_ms: int | None = None,
    ) -> None:
        self.buf = sorted((int(t), float(v)) for t, v in buf or [])
        self.prev_avg = prev_avg
        self.streak = streak
        self.last_end_ms = last_end_ms
        #: (trend_ts_us, avg, prev_avg) emitted this batch
        self.events: list[tuple[int, float, float]] = []

    @classmethod
    def restore(cls, key, state: tuple | None) -> "TrendMachine":
        """Resume from the persisted ``state`` tuple (None: a new key)."""
        return cls(*state) if state is not None else cls()

    def process_row(self, row) -> None:
        self.add(int(row.ts_us), float(row.volume))

    def add(self, ts_us: int, vol: float) -> None:
        self.buf.append((int(ts_us), float(vol)))
        self.buf.sort()

    def _candidate_ends(self, wm_ms: int) -> list[int]:
        """Aligned window ends ≤ watermark whose window holds ≥1 trade —
        derived from the buffer (≤ window/slide ends per trade), so the
        walk never depends on how much wall-clock the watermark jumped."""
        ends: set[int] = set()
        for ts_us, _ in self.buf:
            first = (ts_us // 1000 // TREND_SLIDE_MS) * TREND_SLIDE_MS + TREND_SLIDE_MS
            for e in range(first, first + TREND_WINDOW_MS, TREND_SLIDE_MS):
                if e <= wm_ms and (self.last_end_ms is None or e > self.last_end_ms):
                    ends.add(e)
        return sorted(ends)

    def fire(self, wm_ms: int) -> None:
        """Finalize every aligned window the watermark has passed, in end
        order, folding each average into the trend comparison."""
        for e in self._candidate_ends(wm_ms):
            lo_us, hi_us = (e - TREND_WINDOW_MS) * 1000, e * 1000
            vols = [v for ts, v in self.buf if lo_us <= ts < hi_us]
            if not vols:  # windows without elements don't exist (Flink)
                continue
            avg = sum(vols) / len(vols)
            if self.prev_avg is not None and avg < self.prev_avg:
                self.streak += 1
                if self.streak == CONSEC_DECREASES:  # the transition
                    self.events.append((e * 1000, avg, self.prev_avg))
            else:
                self.streak = 0
            self.prev_avg = avg
            self.last_end_ms = e
        if self.last_end_ms is not None:
            # a trade's LAST aligned window ends at floor(ts/slide)*slide
            # + window; once every window it can appear in has fired, the
            # trade is dead — evict exactly those, so a key that goes
            # permanently quiet drains to an empty buffer (and the
            # runner removes its state) instead of retaining up to
            # one slide of dead trades forever
            self.buf = [
                (ts, v)
                for ts, v in self.buf
                if (ts // 1000 // TREND_SLIDE_MS) * TREND_SLIDE_MS
                + TREND_WINDOW_MS
                > self.last_end_ms
            ]

    def next_deadline_ms(self) -> int | None:
        """Earliest unfired non-empty window end (> everything fired)."""
        ends = [
            e
            for ts_us, _ in self.buf
            for e in range(
                (ts_us // 1000 // TREND_SLIDE_MS) * TREND_SLIDE_MS + TREND_SLIDE_MS,
                (ts_us // 1000 // TREND_SLIDE_MS) * TREND_SLIDE_MS
                + TREND_SLIDE_MS
                + TREND_WINDOW_MS,
                TREND_SLIDE_MS,
            )
            if self.last_end_ms is None or e > self.last_end_ms
        ]
        return min(ends) if ends else None

    @property
    def state(self) -> tuple:
        return (self.buf, self.prev_avg, self.streak, self.last_end_ms)

    @property
    def output(self) -> list[tuple[int, float, float]]:
        return self.events

    @property
    def empty(self) -> bool:
        return not self.buf and self.prev_avg is None


def trend_stream(trades: DataFrame) -> DataFrame:
    """Wire a streaming trade DataFrame (``code``, ``ts``, ``volume``)
    through the trend detector."""
    src = drop_late(trades, "ts").select(
        F.col("code").cast("string").alias("code"),
        F.col("ts").alias("ts"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("volume").cast("double").alias("volume"),
    )
    return run_keyed(src, "code", TrendMachine, TREND_SCHEMA, STATE_SCHEMA)
