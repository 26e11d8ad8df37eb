"""CEP SignalGenerator — the reference's designed trading-signal core
(SURVEY.md §2.5 J1 + §2.6 W4/W5/W6/W7), as a keyed stateful processor over
a union-with-discriminator of four streams.

Reference design (``docs/project docs/호가창 분석 스캘퍼: 시스템
아키텍처.md:560-760``, ``2. CEP 레이어 구현 설계 및 체크리스트.md:1-226``):

- **J1** four streams — enriched trades, enriched orderbooks, execution
  feedback, state restore — ``connect``-ed and keyed by market code. Spark
  mapping: ``unionByName(allowMissingColumns=True)`` with a ``source``
  discriminator column into one keyed stateful processor
  (the co-process pattern; SURVEY §2.5).
- **Buy path ('P파')**: cond1 = orderbook density change rate
  ``(1 - current/baseline) × 100 > 30%`` against the trailing-60s mean
  with warm-up gating (W5 ListState time-series); cond2 = spoof proxy — a
  large new ask level (> 5% of the book) that mostly vanishes within 1.5s,
  detected by diffing against the previous book (W6 ValueState) with a
  per-price timer. cond1 ∧ cond2 (each fresh within 10s) → BUY signal +
  ``active_positions[reason] = PositionInfo`` (W4 MapState).
- **Sell path ('여진')**: only in tracking mode (position held): imbalance
  ratio > 2.0 AND the sliding trade-volume average decreasing twice in a
  row → SELL, position removed, and a ``recently_removed`` entry with a
  30s TTL guards against stale restore commands (W4 MapState + TTL).
- **Feedback**: a FAILED execution removes its position (and guards it).
- **Restore**: re-registers a position unless the recently-removed guard
  rejects it as stale.
- **W7**: every signal id is ``sha256(code|side|reason|second)`` —
  idempotent on replay.

The keyed runner
(:func:`~apache_flink_pratices_spark.streaming.watermarks.run_keyed`)
drives the framework-free :class:`SignalMachine` (the reference keeps
domain rules framework-free by design, ``2. CEP 레이어...md:82,209``),
persisted as one state tuple per key.

Timer semantics follow the engine's documented event-time interleave (see
``docs/fraud_semantics.md``): armed spoof deadlines strictly earlier than
the next event fire first, against the orderbook state at firing time;
quiet keys fire via the Spark event-time timeout parked on the earliest
deadline. TTLs are emulated by timestamp filtering on read and eviction on
write (the 3.x-compatible form of StateTtlConfig's
OnCreateAndWrite/NeverReturnExpired); the TTL clock is EVENT time so that
backtest replay ("a day of data in minutes", 시스템 아키텍처.md:106)
reproduces live behavior exactly.

Scale: one shuffle on code; per-key state is bounded (trailing windows
evict by time, removed-guard by TTL, watches by deadline). RocksDB keeps
aggregate state off-heap.
"""

from __future__ import annotations

import datetime
import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_flink_pratices_spark.domain.rules import (
    CEP_DENSITY_WINDOW_US,
    CEP_MIN_SAMPLES,
    CEP_WARMUP_US,
    COND_FRESH_US,
    CONSEC_DECREASES,
    IMBALANCE_THRESHOLD,
    P_WAVE_DENSITY_DROP_PCT,
    P_WAVE_REASON,
    REMOVED_TTL_MS,
    SPOOF_LEVEL_FRACTION,
    SPOOF_REMAIN_FRACTION,
    SPOOF_VANISH_MS,
    TRADE_WIN_US,
)
from apache_flink_pratices_spark.streaming.watermarks import drop_late, run_keyed

#: unified input row shape after the union-with-discriminator
UNIFIED_SCHEMA = (
    "code string, ts timestamp, ts_us bigint, source string, "
    "price double, volume double, total_ask bigint, total_bid bigint, "
    "levels array<struct<price bigint, size bigint>>, "
    "signal_id string, status string, reason string, entry_price double"
)

SIGNAL_SCHEMA = (
    "code string, ts_us bigint, side string, reason string, "
    "signal_id string, ref_price double"
)

STATE_SCHEMA = (
    "positions array<struct<reason string, signal_id string, entry_price double, entry_ts_us bigint>>, "
    "removed array<struct<reason string, signal_id string, removed_ts_ms bigint>>, "
    "last_ob struct<ts_us bigint, total_ask bigint, total_bid bigint, "
    "levels array<struct<price bigint, size bigint>>>, "
    "watches array<struct<price bigint, size bigint, deadline_ms bigint>>, "
    "ask_vols array<struct<ts_us bigint, vol bigint>>, "
    "first_seen_us bigint, "
    "trades array<struct<ts_us bigint, vol double>>, "
    "win_avgs array<struct<ts_us bigint, avg double>>, "
    "cond1_ts_us bigint, cond2_ts_us bigint, last_price double"
)


def deterministic_signal_id(code: str, side: str, reason: str, ts_us: int) -> str:
    """W7: sha256 over (code, side, reason, second-truncated event time)."""
    payload = f"{code}|{side}|{reason}|{ts_us // 1_000_000}"
    return hashlib.sha256(payload.encode()).hexdigest()


def _row_levels(raw) -> list[tuple[int, int]]:
    """Arrow hands list columns to pandas as numpy arrays (or None/NaN for
    null) — normalize to a plain list of (price, size) tuples."""
    if raw is None or isinstance(raw, float):
        return []
    return [(int(l["price"]), int(l["size"])) for l in raw]


def _decreasing(win_avgs: list[tuple]) -> bool:
    if len(win_avgs) < CONSEC_DECREASES + 1:
        return False
    vals = [a for _, a in win_avgs[-(CONSEC_DECREASES + 1):]]
    return all(vals[i + 1] < vals[i] for i in range(len(vals) - 1))


class SignalMachine:
    """One key's CEP state + transition rules, framework-free.

    The keyed runner restores it from the state tuple, replays the batch
    through :meth:`process_row` / :meth:`fire`, then persists
    :attr:`state` back.
    """

    def __init__(
        self,
        code: str,
        positions: list[tuple] | None = None,
        removed: list[tuple] | None = None,
        last_ob: tuple | None = None,
        watches: list[tuple] | None = None,
        ask_vols: list[tuple] | None = None,
        first_seen_us: int | None = None,
        trades: list[tuple] | None = None,
        win_avgs: list[tuple] | None = None,
        cond1_ts_us: int | None = None,
        cond2_ts_us: int | None = None,
        last_price: float | None = 0.0,
    ) -> None:
        # struct fields restored from the state tuple arrive as Rows:
        # normalise every element to a plain tuple
        self.code = code
        self.positions = [tuple(p) for p in positions or []]
        self.removed = [tuple(r) for r in removed or []]
        self.last_ob = (
            (last_ob[0], last_ob[1], last_ob[2], [tuple(l) for l in last_ob[3] or []])
            if last_ob is not None
            else None
        )
        self.watches = sorted((tuple(w) for w in watches or []), key=lambda w: w[2])
        self.ask_vols = [tuple(v) for v in ask_vols or []]
        self.first_seen_us = first_seen_us
        self.trades = [tuple(t) for t in trades or []]
        self.win_avgs = [tuple(a) for a in win_avgs or []]
        self.cond1_ts_us = cond1_ts_us
        self.cond2_ts_us = cond2_ts_us
        self.last_price = last_price if last_price is not None else 0.0
        #: (ts_us, side, reason, signal_id, ref_price) emitted rows
        self.signals: list[tuple] = []

    @classmethod
    def restore(cls, code: str, state: tuple | None) -> "SignalMachine":
        """Resume from the persisted ``state`` tuple (None: a new key)."""
        return cls(code, *state) if state is not None else cls(code)

    @property
    def state(self) -> tuple:
        return (
            self.positions,
            self.removed,
            self.last_ob,
            self.watches,
            self.ask_vols,
            self.first_seen_us,
            self.trades,
            self.win_avgs,
            self.cond1_ts_us,
            self.cond2_ts_us,
            self.last_price,
        )

    # -- TTL'd recently-removed guard (W4) --------------------------------
    def evict_removed(self, now_ms: int) -> None:
        self.removed = [r for r in self.removed if now_ms - r[2] <= REMOVED_TTL_MS]

    def recently_removed(self, reason: str, now_ms: int) -> bool:
        return any(
            r[0] == reason and now_ms - r[2] <= REMOVED_TTL_MS for r in self.removed
        )

    # -- signal emission / buy-sell paths ---------------------------------
    def _emit(self, ts_us: int, side: str, reason: str, ref_price: float) -> str:
        sid = deterministic_signal_id(self.code, side, reason, ts_us)
        self.signals.append((ts_us, side, reason, sid, ref_price))
        return sid

    def _ob_level_size(self, price: int) -> int:
        if self.last_ob is None:
            return 0
        for lvl in self.last_ob[3]:
            if lvl[0] == price:
                return lvl[1]
        return 0

    def _maybe_buy(self, now_us: int) -> None:
        if self.cond1_ts_us is None or self.cond2_ts_us is None:
            return
        if now_us - self.cond1_ts_us > COND_FRESH_US:
            return
        if now_us - self.cond2_ts_us > COND_FRESH_US:
            return
        if any(p[0] == P_WAVE_REASON for p in self.positions):
            return
        sid = self._emit(now_us, "BUY", P_WAVE_REASON, self.last_price)
        self.positions.append((P_WAVE_REASON, sid, self.last_price, now_us))
        self.cond1_ts_us = None
        self.cond2_ts_us = None

    def _fire_watch(self, watch: tuple, fire_us: int) -> None:
        price, armed_size, _deadline = watch
        remaining = self._ob_level_size(price)
        if remaining < SPOOF_REMAIN_FRACTION * armed_size:
            self.cond2_ts_us = fire_us
            self._maybe_buy(fire_us)

    def fire(self, up_to_ms: int) -> None:
        """Fire every spoof watch due at or before ``up_to_ms``, at that
        instant."""
        while self.watches and self.watches[0][2] <= up_to_ms:
            w = self.watches.pop(0)
            self._fire_watch(w, up_to_ms * 1000)

    def next_deadline_ms(self) -> int | None:
        return self.watches[0][2] if self.watches else None

    # -- per-source handlers ----------------------------------------------
    def _on_orderbook(self, row) -> None:
        now = int(row.ts_us)
        total_ask = int(row.total_ask)
        total_bid = int(row.total_bid)
        levels = _row_levels(row.levels)
        if self.first_seen_us is None:
            self.first_seen_us = now

        # cond1: density change vs trailing baseline (state read BEFORE
        # appending the current sample — A3/A5 semantics)
        samples = [
            v for (t, v) in self.ask_vols if now - CEP_DENSITY_WINDOW_US <= t < now
        ]
        warm = (
            now - self.first_seen_us < CEP_WARMUP_US
            or len(samples) < CEP_MIN_SAMPLES
        )
        if not warm and samples:
            baseline = sum(samples) / len(samples)
            if baseline > 0:
                rate = (1.0 - total_ask / baseline) * 100.0
                if rate > P_WAVE_DENSITY_DROP_PCT:
                    self.cond1_ts_us = now

        # cond2 arm: big NEW level vs previous book (W6 diff)
        book_total = total_ask + total_bid
        for price, size in levels:
            prev = self._ob_level_size(price)
            if prev < size and (size - prev) > SPOOF_LEVEL_FRACTION * book_total:
                deadline_ms = now // 1000 + SPOOF_VANISH_MS
                if not any(w[0] == price for w in self.watches):
                    self.watches.append((price, size, deadline_ms))
                    self.watches.sort(key=lambda w: w[2])

        # state updates (W5 time-series with eviction, W6 last book)
        self.ask_vols = [
            (t, v) for (t, v) in self.ask_vols if t >= now - CEP_DENSITY_WINDOW_US
        ] + [(now, total_ask)]
        self.last_ob = (now, total_ask, total_bid, levels)

        # sell path (tracking mode only)
        if self.positions and total_bid > 0:
            imbalance = total_ask / total_bid
            if imbalance > IMBALANCE_THRESHOLD and _decreasing(self.win_avgs):
                for p in [p for p in self.positions if p[0] == P_WAVE_REASON]:
                    self._emit(now, "SELL", p[0], self.last_price)
                    self.positions.remove(p)
                    self.removed.append((p[0], p[1], now // 1000))

        self._maybe_buy(now)

    def _on_trade(self, row) -> None:
        now = int(row.ts_us)
        if self.first_seen_us is None:
            self.first_seen_us = now
        self.trades = [
            (t, v) for (t, v) in self.trades if t >= now - TRADE_WIN_US
        ] + [(now, float(row.volume))]
        if row.price is not None:
            self.last_price = float(row.price)
        avg = sum(v for _, v in self.trades) / len(self.trades)
        self.win_avgs = (self.win_avgs + [(now, avg)])[-(CONSEC_DECREASES + 1):]

    def _on_feedback(self, row) -> None:
        now_ms = int(row.ts_us) // 1000
        if (row.status or "") == "FAILED":
            for p in [p for p in self.positions if p[1] == row.signal_id]:
                self.positions.remove(p)
                self.removed.append((p[0], p[1], now_ms))

    def _on_restore(self, row) -> None:
        now_ms = int(row.ts_us) // 1000
        self.evict_removed(now_ms)
        reason = row.reason or P_WAVE_REASON
        if self.recently_removed(reason, now_ms):
            return  # stale restore of a just-closed position — reject
        if not any(p[0] == reason for p in self.positions):
            self.positions.append(
                (reason, row.signal_id, float(row.entry_price or 0.0), int(row.ts_us))
            )

    def process_row(self, row) -> None:
        """One unified-stream row, with the event-time timer interleave:
        spoof deadlines strictly earlier than the row fire first."""
        now_ms = int(row.ts_us) // 1000
        self.fire(now_ms - 1)
        self.evict_removed(now_ms)
        if row.source == "orderbook":
            self._on_orderbook(row)
        elif row.source == "trade":
            self._on_trade(row)
        elif row.source == "feedback":
            self._on_feedback(row)
        elif row.source == "restore":
            self._on_restore(row)

    @property
    def output(self) -> list[tuple]:
        return self.signals

    @property
    def empty(self) -> bool:
        return not (
            self.positions
            or self.removed
            or self.last_ob is not None
            or self.watches
            or self.ask_vols
            or self.first_seen_us is not None
            or self.trades
            or self.win_avgs
            or self.cond1_ts_us is not None
            or self.cond2_ts_us is not None
        )


def unify_streams(
    trades: DataFrame | None = None,
    orderbooks: DataFrame | None = None,
    feedback: DataFrame | None = None,
    restore: DataFrame | None = None,
) -> DataFrame:
    """J1: union-with-discriminator of up to four streams.

    Each input must already carry ``code`` and ``ts`` (timestamp); missing
    columns are null-filled by ``unionByName(allowMissingColumns=True)``.
    """
    parts = []
    for src, df in (
        ("trade", trades),
        ("orderbook", orderbooks),
        ("feedback", feedback),
        ("restore", restore),
    ):
        if df is not None:
            parts.append(
                df.withColumn("source", F.lit(src)).withColumn(
                    "ts_us", F.unix_micros("ts")
                )
            )
    if not parts:
        raise ValueError("at least one stream required")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def signal_stream(unified: DataFrame) -> DataFrame:
    """Run the unified stream (event time ``ts``) through the
    SignalGenerator, keyed by code."""
    return run_keyed(
        drop_late(unified, "ts"), "code", SignalMachine, SIGNAL_SCHEMA, STATE_SCHEMA
    )


# --- synthetic unified-stream rows (goldens, tests, CEP bench) -------------

#: 2021-01-01T00:00:00Z, tz-aware so row epochs do not depend on the host
#: timezone. ``ts_us`` is the absolute ``unix_micros(ts)`` that
#: :func:`unify_streams` produces — the watermark's domain, so watch
#: deadlines stay valid as event-time timeouts across micro-batches.
SCENARIO_BASE = datetime.datetime(2021, 1, 1, tzinfo=datetime.timezone.utc)
SCENARIO_BASE_US = int(SCENARIO_BASE.timestamp()) * 1_000_000

#: the ten steady book levels every synthetic scenario starts from
STABLE_LEVELS = [(100 + i, 100) for i in range(10)]

_PAYLOAD_COLS = (
    "price", "volume", "total_ask", "total_bid", "levels",
    "signal_id", "status", "reason", "entry_price",
)


def unified_row(code: str, sec: float, source: str, **payload) -> tuple:
    """One :data:`UNIFIED_SCHEMA` row ``sec`` seconds after
    :data:`SCENARIO_BASE`; payload columns not named are null."""
    return (
        code,
        SCENARIO_BASE + datetime.timedelta(seconds=sec),
        SCENARIO_BASE_US + int(sec * 1_000_000),
        source,
        *(payload.get(c) for c in _PAYLOAD_COLS),
    )


def ob_row(code: str, sec: float, total_ask: int, total_bid: int, levels) -> tuple:
    return unified_row(
        code, sec, "orderbook", total_ask=total_ask, total_bid=total_bid, levels=levels
    )


def trade_row(code: str, sec: float, price: float, volume: float) -> tuple:
    return unified_row(code, sec, "trade", price=price, volume=volume)


def restore_row(code: str, sec: float, signal_id: str, entry_price: float) -> tuple:
    return unified_row(
        code, sec, "restore",
        signal_id=signal_id, reason=P_WAVE_REASON, entry_price=entry_price,
    )


def lifecycle_rows(code: str, t0: float = 0) -> list[tuple]:
    """The canonical P-wave lifecycle, ``t0`` seconds after the base:
    baseline books (warm-up) to 55 s, a trade, a density drop plus a big
    new ask level at 56 s (spoof watch armed for 57.5 s), the level gone
    at 57 s, the 58.2 s book the watch fires before (BUY), falling trade
    volumes, and an imbalanced book at 65 s (SELL)."""
    rows = [ob_row(code, t0 + 5 * k, 1000, 1000, STABLE_LEVELS) for k in range(12)]
    rows += [
        trade_row(code, t0 + 55.5, 50_000.0, 10.0),
        ob_row(code, t0 + 56, 600, 1000,
               [(100 + i, 30) for i in range(10)] + [(999, 300)]),
        ob_row(code, t0 + 57, 600, 1000, [(100 + i, 60) for i in range(10)]),
        ob_row(code, t0 + 58.2, 600, 1000, [(100 + i, 60) for i in range(10)]),
        trade_row(code, t0 + 60, 50_100.0, 9.0),
        trade_row(code, t0 + 62, 50_200.0, 1.0),
        trade_row(code, t0 + 64, 50_300.0, 1.0),
        ob_row(code, t0 + 65, 900, 300, [(100 + i, 90) for i in range(10)]),
    ]
    return rows
