"""Framework-free business rules, shared by the batch and streaming paths.

The reference keeps domain rules framework-free by design (``docs/project
docs/2. CEP 레이어 구현 설계 및 체크리스트.md:82,209``); we follow suit: these
constants/functions are imported both by DataFrame column expressions and by
the pandas-based stateful processors.
"""

from __future__ import annotations

# --- fraud detection (fraud_detector.py:35-37 uses 1.00 / 500.00 / 60s on
# the USD transaction corpus; rescaled here to the driver's `events.value`
# distribution [0.01, 490] with sparser per-key traffic, keeping the same
# shape: small-then-large within a bounded event-time window).
SMALL_AMOUNT = 50.0
LARGE_AMOUNT = 400.0
WINDOW_US = 86_400 * 1_000_000  # 1 day in microseconds

# The reference's original constants, used verbatim by the streaming
# FraudMachine and by the fixture tests on the canonical 12-transaction
# corpus (FIXTURES.md §1).
REF_SMALL_AMOUNT = 1.00
REF_LARGE_AMOUNT = 500.00
REF_WINDOW_MS = 60_000

# --- sessionization / CEP windows
SESSION_GAP_US = 1_800 * 1_000_000  # 30 min inactivity closes a session

# --- orderbook analytics (designed CEP layer, 시스템 아키텍처.md:649-651)
IMBALANCE_THRESHOLD = 2.0  # total_ask / total_bid ratio flag
DENSITY_MIN_SAMPLES = 10  # warm-up gate (2. CEP 레이어...md:111-150)

# Driver-scale equivalents for the sparse testdata event stream (events are
# minutes-to-hours apart per key, not milliseconds): same formulas, window
# rescaled so the trailing baseline actually accumulates ≥ MIN_SAMPLES.
OB_DENSITY_WINDOW_US = 7 * 86_400 * 1_000_000  # trailing 7 days
OB_WARMUP_US = 2 * 86_400 * 1_000_000  # 2-day warm-up period
OB_MIN_SAMPLES = DENSITY_MIN_SAMPLES  # unchanged
OB_TOP_N = 10  # top-N levels per side (시스템 아키텍처.md:575)


# --- CEP SignalGenerator (시스템 아키텍처.md:560-760, real-time scale —
# the streaming tests drive synthetic second-granularity streams, so the
# reference's own windows apply unrescaled)
P_WAVE_DENSITY_DROP_PCT = 30.0  # cond1: density drop > X% (:583)
SPOOF_LEVEL_FRACTION = 0.05  # cond2 arm: new level > 5% of book (:588)
SPOOF_VANISH_MS = 1_500  # cond2 verify delay (:589)
SPOOF_REMAIN_FRACTION = 0.25  # "mostly gone" = < 25% of armed size remains
COND_FRESH_US = 10_000_000  # both P-wave conditions must be ≤ 10s apart
REMOVED_TTL_MS = 30_000  # recently-removed guard TTL (:702-718)
CEP_DENSITY_WINDOW_US = 60 * 1_000_000  # trailing 60s baseline (:575)
CEP_WARMUP_US = 30 * 1_000_000
CEP_MIN_SAMPLES = 10
TRADE_WIN_US = 5 * 1_000_000  # sliding trade-volume window (:641-648)
CONSEC_DECREASES = 2  # sell cond: 2 consecutive avg decreases (:646)
P_WAVE_REASON = "P_WAVE_EARTHQUAKE_DETECTED"


class FraudMachine:
    """The FraudDetector keyed state machine, framework-free.

    Exact transition semantics of reference
    ``src/pyflink_examples/fraud_detection/fraud_detector.py:39-149``
    including its stale-timer quirks (see ``docs/fraud_semantics.md``),
    with the reference's own thresholds (``REF_*``). The streaming detector
    (``streaming/fraud.py``) runs it through the keyed runner
    (``streaming/watermarks.py::run_keyed``), which persists ``state`` and
    parks Spark's single event-time timeout on the earliest armed timer.

    State: ``flag`` (bool | None), ``latest`` (last registered timer ms,
    ``fraud_detector.py:53-62``), ``armed`` (every registered, unfired
    timer — Flink's timer service holds many per key).
    """

    def __init__(
        self,
        flag: bool | None = None,
        latest: int | None = None,
        armed: list[int] | None = None,
    ) -> None:
        self.flag = flag
        self.latest = latest
        self.armed: list[int] = sorted(armed or [])
        #: (account_id-free) alert event times collected this batch
        self.alerts: list[tuple[int, float]] = []

    @classmethod
    def restore(cls, key, state: tuple | None) -> "FraudMachine":
        """Resume from the persisted ``state`` tuple (None: a new key)."""
        return cls(*state) if state is not None else cls()

    def on_timer(self, t: int) -> None:
        """fraud_detector.py:116-133 — clear flag AND timer_state,
        unconditionally (even when ``latest`` points at a later timer)."""
        if t in self.armed:
            self.armed.remove(t)
        self.flag = None
        self.latest = None

    def clean_up(self) -> None:
        """fraud_detector.py:135-149 — delete only the LATEST timer;
        earlier stale timers stay registered."""
        if self.latest is not None and self.latest in self.armed:
            self.armed.remove(self.latest)
        self.flag = None
        self.latest = None

    def fire(self, wm_ms: int) -> None:
        """Fire every armed timer the watermark has reached (Flink fires
        all timers ≤ watermark)."""
        while self.armed and self.armed[0] <= wm_ms:
            self.on_timer(self.armed[0])

    def on_event(self, ts_ms: int, ts_us: int, amount: float) -> None:
        """Process one transaction (fraud_detector.py:64-114), firing
        timers the event-time watermark would have fired first: before an
        event at ``ts_ms`` the watermark trails strictly below it."""
        self.fire(ts_ms - 1)

        last_was_small = bool(self.flag)
        if last_was_small and amount >= REF_LARGE_AMOUNT:
            self.alerts.append((ts_us, amount))
            self.clean_up()
            return  # reference returns right after the alert

        if amount <= REF_SMALL_AMOUNT:
            self.flag = True
            t = ts_ms + REF_WINDOW_MS
            self.latest = t
            if t not in self.armed:
                self.armed.append(t)
                self.armed.sort()
        elif not last_was_small:
            self.clean_up()

    def process_row(self, row) -> None:
        self.on_event(int(row.ts_us) // 1000, int(row.ts_us), float(row.amount))

    @property
    def state(self) -> tuple:
        return (self.flag, self.latest, self.armed)

    def next_deadline_ms(self) -> int | None:
        return self.armed[0] if self.armed else None

    @property
    def output(self) -> list[tuple[int, float]]:
        return self.alerts

    @property
    def empty(self) -> bool:
        return self.flag is None and self.latest is None and not self.armed
