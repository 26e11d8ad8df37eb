"""Driver-checked golden runs of the streaming operators.

Streaming stateful processors are not SQL-expressible, but their outputs
on pinned scenarios ARE deterministic — so each entry here drives a real
readStream → memory-sink query over its canonical corpus and the oracle is
the expected output as a VALUES literal. A hash match means the entire
streaming pipeline (source, watermark, keyed state, timers, emission)
reproduced the golden result inside the driver's own session.

- ``stream_fraud_golden``: the reference's 12-transaction corpus → exactly
  3 alerts (accounts 3, 4, 3 — ``docs/fraud_detection_guide.md:86-100``).
- ``stream_cep_signals_golden``: the SignalGenerator lifecycle scenario →
  BUY (P-wave) then two SELLs (see tests/streaming/test_signal_generator).

``sf_dir`` is accepted but unused: the corpora are fixed golden inputs,
not scale-factor data.
"""

from __future__ import annotations

import datetime
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from apache_flink_pratices_spark.domain.rules import P_WAVE_REASON
from apache_flink_pratices_spark.registry import register
from apache_flink_pratices_spark.sources.collection import drain, stream_from_collection
from apache_flink_pratices_spark.streaming.fraud import fraud_alert_stream
from apache_flink_pratices_spark.streaming.signal_generator import (
    SCENARIO_BASE_US as _BASE_US,
    STABLE_LEVELS,
    UNIFIED_SCHEMA,
    deterministic_signal_id,
    lifecycle_rows,
    ob_row,
    restore_row,
    signal_stream,
    trade_row,
)

_BASE_MS = 1_609_459_200_000  # 2021-01-01T00:00:00Z

#: the reference's canonical fraud corpus (job.py:33-54 values)
_FRAUD_TXS = [
    (1, 0, 600.00), (1, 30_000, 700.00),
    (2, 0, 0.50), (2, 10_000, 0.75),
    (3, 0, 0.50), (3, 30_000, 600.00),
    (4, 0, 1.00), (4, 30_000, 500.00),
    (5, 0, 0.10), (5, 10_000, 0.50),
    (3, 120_000, 0.99), (3, 150_000, 999.00),
]


def _run_memory_stream(
    spark: SparkSession,
    rows,
    schema,
    build,
    name: str,
    chunks: int = 2,
    output_mode: str = "append",
) -> DataFrame:
    # Run at the engine width, not the host session's (often 200); see
    # engine_shuffle_width. Pin UTC like io.load does: the corpora
    # carry naive datetimes whose epoch conversion must not depend on the
    # host session's timezone.
    from apache_flink_pratices_spark.session import engine_shuffle_width

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with engine_shuffle_width(spark):
        with tempfile.TemporaryDirectory(prefix="afp-golden-") as d:
            src = stream_from_collection(
                spark, rows, schema, os.path.join(d, "in"), chunks=chunks
            )
            drain(build(src), name, os.path.join(d, "ckpt"), output_mode)
            out = spark.table(name)
            # materialize before the temp checkpoint dir disappears
            return spark.createDataFrame(out.collect(), out.schema)


@register(
    "stream_fraud_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      (CAST(3 AS BIGINT), CAST({(_BASE_MS + 30_000) * 1000} AS BIGINT), CAST(600.00 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST({(_BASE_MS + 30_000) * 1000} AS BIGINT), CAST(500.00 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST({(_BASE_MS + 150_000) * 1000} AS BIGINT), CAST(999.00 AS DOUBLE))
    ) AS t(account_id, alert_ts_us, amount)
    """,
    doc="W1/W2 streaming: the keyed stateful FraudDetector driven through "
    "a real readStream over the reference's 12-tx corpus; oracle is the "
    "pinned 3-alert golden output (accounts 3/4/3).",
    tags=("streaming", "stateful", "golden"),
)
def stream_fraud_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tz-AWARE datetimes: pyspark interprets naive ones in the PYTHON
    # process's local timezone (not the session conf), which would shift
    # the epochs on a non-UTC driver host.
    rows = [
        (
            acct,
            datetime.datetime.fromtimestamp(
                (_BASE_MS + off) / 1000, datetime.timezone.utc
            ),
            amount,
        )
        for acct, off, amount in _FRAUD_TXS
    ]
    return _run_memory_stream(
        spark,
        rows,
        "account_id long, ts timestamp, amount double",
        fraud_alert_stream,
        "afp_fraud_golden",
    )


_CODE = "KRW-BTC"


def _signal(code: str, ts_us: int, side: str, ref_price: float) -> tuple:
    """One expected P-wave signal row (SIGNAL_SCHEMA order)."""
    sid = deterministic_signal_id(code, side, P_WAVE_REASON, ts_us)
    return (code, ts_us, side, P_WAVE_REASON, sid, ref_price)


def _signals_oracle(expected: list[tuple]) -> str:
    values = ",\n      ".join(
        f"('{c}', CAST({t} AS BIGINT), '{side}', '{reason}', '{sid}', CAST({price} AS DOUBLE))"
        for c, t, side, reason, sid, price in expected
    )
    return f"""
    SELECT * FROM (VALUES
      {values}
    ) AS t(code, ts_us, side, reason, signal_id, ref_price)
    """


def _cep_expected() -> list[tuple]:
    # ts_us is absolute unix_micros (same domain as the watermark)
    return [
        # the watch fires just before the 58.2 s book
        _signal(_CODE, _BASE_US + 58_199_000, "BUY", 50_000.0),
        _signal(_CODE, _BASE_US + 65_000_000, "SELL", 50_300.0),
    ]


@register(
    "stream_cep_signals_golden",
    oracle=_signals_oracle(_cep_expected()),
    doc="J1/W4/W5/W6/W7 streaming: the CEP SignalGenerator (co-processed "
    "union, MapState positions, ListState time-series, orderbook diff with "
    "per-price timers, deterministic ids) over the canonical P-wave "
    "lifecycle scenario; oracle is the pinned BUY+SELL golden output.",
    tags=("streaming", "stateful", "cep", "golden"),
)
def stream_cep_signals_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_memory_stream(
        spark, lifecycle_rows(_CODE), UNIFIED_SCHEMA, signal_stream, "afp_cep_golden"
    )


# --- dedicated spoof-vanish golden (W6, 시스템 아키텍처.md:584-592) ----------
_SPOOF_CODE = "KRW-SPF"


def _spoof_scenario():
    """Isolates the per-price-timer spoof-vanish rule: two watches armed in
    the same book — one level VANISHES before its 1.5 s deadline (cond2
    fires → BUY), one PERSISTS (its timer fires too, finds ≥25% of the
    armed size remaining, and must produce nothing). The single-BUY golden
    therefore pins both the fire and the non-fire path of W6."""
    code = _SPOOF_CODE
    # 0-55 s: warm-up + trailing-60s density baseline (12 samples of 1000)
    rows = [ob_row(code, 5 * k, 1000, 1000, STABLE_LEVELS) for k in range(12)]
    rows.append(trade_row(code, 55.5, 42_000.0, 10.0))  # sets last_price
    # 56 s: density -40% (cond1) + TWO big new levels appear: 999 (300) and
    # 888 (200), each > 5% of the 1600 book → two watches, deadline 57.5 s
    rows.append(ob_row(code, 56, 600, 1000,
                       [(100 + i, 10) for i in range(10)] + [(999, 300), (888, 200)]))
    # 57 s: level 999 is GONE, level 888 still fully there
    rows.append(ob_row(code, 57, 620, 1000,
                       [(100 + i, 10) for i in range(10)] + [(888, 200)]))
    # 58.2 s: first event past the deadline — both timers fire at 58.199 s
    # against the 57 s book: 999 → remaining 0 < 25% of 300 → cond2 → BUY
    # (ref = last_price 42000, before this trade updates it); 888 →
    # remaining 200 ≥ 25% of 200 → no signal
    rows.append(trade_row(code, 58.2, 42_100.0, 5.0))
    return rows


def _spoof_expected() -> list[tuple]:
    return [_signal(_SPOOF_CODE, _BASE_US + 58_199_000, "BUY", 42_000.0)]


@register(
    "stream_spoof_golden",
    oracle=_signals_oracle(_spoof_expected()),
    doc="W6 streaming, isolated: the per-price event-time spoof watch "
    "(시스템 아키텍처.md:584-592 — a big new level that disappears within "
    "1.5 s) as its own driver row. Two watches armed in one book; only "
    "the vanishing level's timer sets cond2, so the golden output is "
    "exactly one BUY — the persisting level's timer firing without a "
    "signal is pinned by the row's absence.",
    tags=("streaming", "stateful", "cep", "golden"),
)
def stream_spoof_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_memory_stream(
        spark, _spoof_scenario(), UNIFIED_SCHEMA, signal_stream, "afp_spoof_golden"
    )


# --- W4 MapState+TTL restore-guard golden (시스템 아키텍처.md:702-718) --------
_RST_CODE = "KRW-RST"


def _restore_scenario(code: str = _RST_CODE):
    """Full position lifecycle with BOTH restore outcomes: a restore 5 s
    after the SELL is REJECTED by the 30 s recently-removed TTL guard (the
    sell-shaped book at 72 s then fires nothing — no position), and a
    restore at 100 s (TTL expired) is ACCEPTED, so the identical book at
    102 s fires the second SELL. The golden output BUY/SELL/SELL plus the
    72 s row's absence pins the reference's stale-restore-rejection design
    (W4 MapState + TTL)."""
    sell_book = [(100 + i, 90) for i in range(10)]
    return lifecycle_rows(code) + [  # SELL #1 at 65 s arms the guard
        restore_row(code, 70, "sid-restore-1", 42.0),  # within TTL: rejected
        ob_row(code, 72, 900, 300, sell_book),  # must fire NOTHING
        restore_row(code, 100, "sid-restore-2", 42.0),  # TTL expired: accepted
        ob_row(code, 102, 900, 300, sell_book),  # SELL #2
    ]


def _restore_expected() -> list[tuple]:
    return [
        _signal(_RST_CODE, _BASE_US + 58_199_000, "BUY", 50_000.0),
        _signal(_RST_CODE, _BASE_US + 65_000_000, "SELL", 50_300.0),
        _signal(_RST_CODE, _BASE_US + 102_000_000, "SELL", 50_300.0),
    ]


@register(
    "stream_restore_golden",
    oracle=_signals_oracle(_restore_expected()),
    doc="W4 streaming, isolated: the MapState+TTL stale-restore guard "
    "(시스템 아키텍처.md:702-718) as its own driver row. After the first "
    "SELL arms the 30 s recently-removed guard, a restore 5 s later is "
    "rejected (the sell-shaped book that follows fires nothing — pinned "
    "by absence) and a restore after TTL expiry is accepted (the same "
    "book then fires the second SELL). Golden output: BUY, SELL, SELL.",
    tags=("streaming", "stateful", "cep", "golden"),
)
def stream_restore_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_memory_stream(
        spark, _restore_scenario(), UNIFIED_SCHEMA, signal_stream, "afp_restore_golden"
    )


#: watermarked-window golden corpus: 4 replay files of 2 rows each. The
#: shape pins THREE behaviors at once: (1) append-mode windows emit only
#: once the watermark passes their end; (2) a late row that arrives while
#: its window's state is still live is MERGED (Spark evicts at
#: end-of-batch, after input merge); (3) a late row arriving after its
#: window was emitted is DROPPED (batch 3's numRowsDroppedByWatermark=1)
#: — the reference's drop-late stance (W3) at the exact operator where
#: Spark enforces it. Rows 70s/2s ride in the last file: the 70s row
#: advances the watermark to 60s so the final no-data batch flushes the
#: [30,60) window; its own [60,90) window never finalizes (wm stops at
#: 60) and is absent from the golden.
_WINDOW_ROWS = [
    ("a", 1, 10), ("a", 5, 20),
    ("b", 20, 30), ("b", 45, 50),
    ("a", 35, 40), ("b", 50, 60),
    ("a", 70, 70), ("a", 2, 99),  # 99 is late-after-emit: dropped
]


@register(
    "stream_window_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      ('a', CAST({_BASE_US} AS BIGINT), CAST(2 AS BIGINT), CAST(30 AS BIGINT)),
      ('b', CAST({_BASE_US} AS BIGINT), CAST(1 AS BIGINT), CAST(30 AS BIGINT)),
      ('a', CAST({_BASE_US + 30_000_000} AS BIGINT), CAST(1 AS BIGINT), CAST(40 AS BIGINT)),
      ('b', CAST({_BASE_US + 30_000_000} AS BIGINT), CAST(2 AS BIGINT), CAST(110 AS BIGINT))
    ) AS t(key, win_start_us, cnt, total)
    """,
    doc="A2/A6/W3 streaming: watermarked tumbling-window aggregation in "
    "append mode through a real readStream — pins window finalization "
    "timing, in-state late-row merge, and the post-emission late-row "
    "DROP (the one place Spark's engine enforces the reference's "
    "drop-late watermark policy on its own).",
    tags=("streaming", "window", "golden"),
)
def stream_window_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from apache_flink_pratices_spark.streaming.windows import window_agg

    rows = [
        (
            key,
            datetime.datetime.fromtimestamp(
                _BASE_US / 1_000_000 + off, datetime.timezone.utc
            ),
            v,
        )
        for key, off, v in _WINDOW_ROWS
    ]
    return _run_memory_stream(
        spark,
        rows,
        "key string, ts timestamp, v long",
        lambda src: window_agg(
            src,
            "ts",
            ["key"],
            [F.count("*").alias("cnt"), F.sum("v").alias("total")],
            size="30 seconds",
            delay="10 seconds",
        ),
        "afp_window_golden",
        chunks=4,
    )


#: session-window golden corpus (2 replay files of 4 rows). Pins: gap
#: extension (0s+8s merge into [0,18)), cross-batch session growth
#: (40s in file 1, 44s in file 2 -> [40,54)), in-state late merge (u2's
#: 5s row arrives after the watermark passed its session end but the
#: state is still live in that batch, so it merges -> [3,15)x2), append
#: finalization order, and the never-finalized open session (u9@200s is
#: absent: the watermark stops at 200s, its session ends 210s).
_SESSION_ROWS = [
    (1, 0), (1, 8), (2, 3), (1, 40),
    (1, 44), (2, 5), (1, 100), (9, 200),
]


@register(
    "stream_session_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST({_BASE_US} AS BIGINT), CAST({_BASE_US + 18_000_000} AS BIGINT), CAST(2 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST({_BASE_US + 3_000_000} AS BIGINT), CAST({_BASE_US + 15_000_000} AS BIGINT), CAST(2 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST({_BASE_US + 40_000_000} AS BIGINT), CAST({_BASE_US + 54_000_000} AS BIGINT), CAST(2 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST({_BASE_US + 100_000_000} AS BIGINT), CAST({_BASE_US + 110_000_000} AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(user_id, start_us, end_us, n_events)
    """,
    doc="A2/W3 streaming: native session windows (10s gap) in append mode "
    "through a real readStream — pins gap-merge, cross-batch session "
    "growth, in-state late merge, and that open sessions never emit.",
    tags=("streaming", "window", "session", "golden"),
)
def stream_session_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    rows = [
        (
            uid,
            datetime.datetime.fromtimestamp(
                _BASE_US / 1_000_000 + off, datetime.timezone.utc
            ),
        )
        for uid, off in _SESSION_ROWS
    ]

    def build(src):
        return (
            src.withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", "10 seconds").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.unix_micros(F.col("w.start")).alias("start_us"),
                F.unix_micros(F.col("w.end")).alias("end_us"),
                "n_events",
            )
        )

    return _run_memory_stream(
        spark,
        rows,
        "user_id long, ts timestamp",
        build,
        "afp_session_golden",
        chunks=2,
    )


#: streaming-dedup golden corpus: 4 replay files of 2 rows each, delay 10s.
#: Pins FOUR dropDuplicatesWithinWatermark behaviors: (1) first occurrence
#: emits immediately with ITS payload (first-wins: 1@2s/"b" is dropped);
#: (2) batch 2 ends with wm = 30s-10s = 20s, but eviction runs at end of
#: a batch AFTER its input is merged (same timing as window state), so
#: key 1 (expires 0+10) is only really gone after the batch-3 spacer
#: rows; (3) the 1@25s replay in batch 4 is then re-admitted and emits
#: AGAIN — the documented bounded-state tradeoff of watermark-scoped
#: dedup (exact global dedup at 100 TB is the batch dedup_exact path);
#: (4) 3@32s lands inside key 3's still-live window (expires 40 > wm 20)
#: and is dropped even though it crosses a batch boundary.
_DEDUP_ROWS = [
    (1, 0, "a"), (1, 2, "b"),
    (2, 5, "c"), (3, 30, "d"),
    (9, 21, "x"), (9, 22, "y"),
    (1, 25, "e"), (3, 32, "f"),
]


@register(
    "stream_dedup_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST({_BASE_US} AS BIGINT), 'a'),
      (CAST(2 AS BIGINT), CAST({_BASE_US + 5_000_000} AS BIGINT), 'c'),
      (CAST(3 AS BIGINT), CAST({_BASE_US + 30_000_000} AS BIGINT), 'd'),
      (CAST(9 AS BIGINT), CAST({_BASE_US + 21_000_000} AS BIGINT), 'x'),
      (CAST(1 AS BIGINT), CAST({_BASE_US + 25_000_000} AS BIGINT), 'e')
    ) AS t(event_id, ts_us, v)
    """,
    doc="W3-adjacent streaming: watermark-scoped stream deduplication "
    "(dropDuplicatesWithinWatermark, 10s delay) through a real readStream "
    "— pins first-wins payload, in-state duplicate drop across batches, "
    "watermark eviction, and post-eviction re-admission (the bounded-"
    "state contract that makes streaming dedup viable at 100 TB).",
    tags=("streaming", "dedup", "golden"),
)
def stream_dedup_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    rows = [
        (
            eid,
            datetime.datetime.fromtimestamp(
                _BASE_US / 1_000_000 + off, datetime.timezone.utc
            ),
            v,
        )
        for eid, off, v in _DEDUP_ROWS
    ]

    def build(src):
        return (
            src.withWatermark("ts", "10 seconds")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", F.unix_micros("ts").alias("ts_us"), "v")
        )

    return _run_memory_stream(
        spark,
        rows,
        "event_id long, ts timestamp, v string",
        build,
        "afp_dedup_golden",
        chunks=4,
    )


#: stream-stream interval-join golden corpus (orders ⋈ payments within
#: 30s). Matches are batch-boundary-invariant for an inner join — a pair
#: emits once both sides have arrived regardless of chunking — so the
#: VALUES oracle pins content, not timing. Non-matches cover: payment
#: outside the bound (order 2), never-paid order (3), orphan payment (4).
_JOIN_ORDERS = [(1, 0, 100.0), (2, 10, 250.0), (3, 20, 75.0), (9, 1000, 1.0)]
_JOIN_PAYMENTS = [(1, 5, "card"), (2, 45, "wire"), (4, 6, "card"), (9, 1000, "card")]


@register(
    "stream_join_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(100.0 AS DOUBLE), 'card',
       CAST({_BASE_US} AS BIGINT), CAST({_BASE_US + 5_000_000} AS BIGINT)),
      (CAST(9 AS BIGINT), CAST(1.0 AS DOUBLE), 'card',
       CAST({_BASE_US + 1_000_000_000} AS BIGINT), CAST({_BASE_US + 1_000_000_000} AS BIGINT))
    ) AS t(order_id, amount, method, o_us, p_us)
    """,
    doc="J2 streaming: watermarked stream-stream interval join (payments "
    "within 30s of their order) through two real readStreams — both "
    "sides' buffers watermark-evicted, only in-bound pairs emitted.",
    tags=("streaming", "join", "golden"),
)
def stream_join_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from apache_flink_pratices_spark.streaming.watermarks import drop_late

    def ts(sec):
        return datetime.datetime.fromtimestamp(
            _BASE_US / 1_000_000 + sec, datetime.timezone.utc
        )

    orders = [(i, ts(s), a) for i, s, a in _JOIN_ORDERS]
    payments = [(i, ts(s), m) for i, s, m in _JOIN_PAYMENTS]
    from apache_flink_pratices_spark.session import engine_shuffle_width

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with engine_shuffle_width(spark):
        with tempfile.TemporaryDirectory(prefix="afp-golden-") as d:
            o = drop_late(
                stream_from_collection(
                    spark, orders, "order_id long, o_ts timestamp, amount double",
                    os.path.join(d, "o"), chunks=2,
                ),
                "o_ts",
                delay="5 seconds",
            )
            p = drop_late(
                stream_from_collection(
                    spark, payments, "order_id long, p_ts timestamp, method string",
                    os.path.join(d, "p"), chunks=2,
                ),
                "p_ts",
                delay="5 seconds",
            )
            joined = o.join(
                p,
                (o.order_id == p.order_id)
                & (p.p_ts >= o.o_ts)
                & (p.p_ts <= o.o_ts + F.expr("INTERVAL 30 SECONDS")),
            ).select(
                o.order_id,
                "amount",
                "method",
                F.unix_micros("o_ts").alias("o_us"),
                F.unix_micros("p_ts").alias("p_us"),
            )
            drain(joined, "afp_join_golden", os.path.join(d, "ckpt"))
            out = spark.table("afp_join_golden")
            return spark.createDataFrame(out.collect(), out.schema)


#: Trending top-k corpus: two finalized 10s windows plus LATE replays.
#: 18 rows under chunks=5 split evenly at 4/4/4/4/2. Timing is the subtle
#: part (measured, not assumed): a window's state is evicted at the end of
#: the first batch that RUNS with watermark > window end, and a late row
#: arriving in that same batch still merges into the live state. So batch
#: 4 (watermark 28s) is the one that closes both windows, and the replays
#: sit in batch 5 — 20+s behind the watermark with their state already
#: gone — where the built-in aggregate drops them outright (no
#: re-admission; contrast dropDuplicatesWithinWatermark's documented
#: re-admission in _DEDUP_ROWS. The keyed runner's Python state operator
#: drops them too; it only delivers rows late by less than a micro-batch
#: — see streaming/watermarks.py). Admitted, they
#: would flip window 0 to a=4 and window 1's ranking. The spacers' own
#: never-closed windows are filtered out of the result by the cutoff.
_TOPK_ROWS = [
    # batches 1-2: window 0 gets a×3/b×2, window 1 gets c×2/b×1
    ("a", 1), ("a", 2), ("b", 4), ("b", 11),
    ("a", 3), ("b", 5), ("c", 13), ("c", 14),
    # batch 3: spacers advance the watermark past both window ends
    ("zz", 30), ("zz", 31), ("zz", 32), ("zz", 33),
    # batch 4: runs with wm=28s -> evicts + emits both content windows
    ("zz", 40), ("zz", 41), ("zz", 42), ("zz", 43),
    # batch 5: late replays into the already-evicted windows -> dropped
    ("a", 7), ("c", 8),
]


@register(
    "stream_topk_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      (CAST({_BASE_MS * 1000} AS BIGINT), 'a', CAST(3 AS BIGINT)),
      (CAST({_BASE_MS * 1000} AS BIGINT), 'b', CAST(2 AS BIGINT)),
      (CAST({(_BASE_MS + 10_000) * 1000} AS BIGINT), 'c', CAST(2 AS BIGINT)),
      (CAST({(_BASE_MS + 10_000) * 1000} AS BIGINT), 'b', CAST(1 AS BIGINT))
    ) AS t(ws_us, item, cnt)
    """,
    doc="A6/W3 streaming: trending top-k — watermarked tumbling-window "
    "counts through a real readStream (append mode: a window emits only "
    "once the watermark passes its end), ranked top-2 per window "
    "downstream of the sink. Pins the built-in aggregate's drop-late "
    "contract: a replay 18s behind the watermark does NOT reopen its "
    "window. At scale the streaming stage shuffles only (window, item) "
    "partial counts; the rank runs over the already-aggregated, "
    "window-partitioned output.",
    tags=("streaming", "golden", "window", "heavy_hitters"),
)
def stream_topk_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    flat = [
        (
            item,
            datetime.datetime.fromtimestamp(
                _BASE_MS / 1000 + off, datetime.timezone.utc
            ),
        )
        for item, off in _TOPK_ROWS
    ]

    cutoff = datetime.datetime.fromtimestamp(
        _BASE_MS / 1000 + 20, datetime.timezone.utc
    )

    def build(src):
        return (
            src.withWatermark("ts", "5 seconds")
            .groupBy(F.window("ts", "10 seconds"), "item")
            .count()
            .filter(F.col("window.start") < F.lit(cutoff))
            .select(
                F.unix_micros("window.start").alias("ws_us"),
                "item",
                F.col("count").alias("cnt"),
            )
        )

    counts = _run_memory_stream(
        spark,
        flat,
        "item string, ts timestamp",
        build,
        "afp_topk_golden",
        chunks=5,
    )
    rank = F.row_number().over(
        Window.partitionBy("ws_us").orderBy(F.col("cnt").desc(), "item")
    )
    return counts.withColumn("rk", rank).filter(F.col("rk") <= 2).drop("rk")


#: trend-rule golden corpus: KRW-BTC trades whose aligned 5s/1s sliding-
#: window averages go 12, 10.5, 9 (2 consecutive decreases -> transition
#: at window end 3s), recover to 9, 9, then 8, 7.5 (second transition at
#: 7s), 9; two ZZZ-FLUSH trades in later micro-batches advance the
#: watermark so every BTC window finalizes through the event-time
#: timeout path (no rows for the key in those batches). All averages are
#: exact binary doubles, so the VALUES oracle hash-matches.
_TREND_ROWS = [
    ("KRW-BTC", 0.5, 12.0),
    ("KRW-BTC", 1.5, 9.0),
    ("KRW-BTC", 2.5, 6.0),
    ("KRW-BTC", 3.5, 9.0),
    ("ZZZ-FLUSH", 20.5, 1.0),
    ("ZZZ-FLUSH", 40.5, 1.0),
]


@register(
    "stream_trend_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      ('KRW-BTC', CAST({_BASE_US + 3_000_000} AS BIGINT), CAST(9.0 AS DOUBLE), CAST(10.5 AS DOUBLE)),
      ('KRW-BTC', CAST({_BASE_US + 7_000_000} AS BIGINT), CAST(7.5 AS DOUBLE), CAST(8.0 AS DOUBLE))
    ) AS t(code, trend_ts_us, avg_vol, prev_avg)
    """,
    doc="A2 trend rule streaming golden (시스템 아키텍처.md:641-648): "
    "sliding 5s/1s event-time windows over the trade stream, avg(volume) "
    "per window, emit when the average decreases 2 windows in a row — "
    "run through a real readStream with the keyed stateful detector; "
    "pins aligned window assignment, watermark-driven finalization via "
    "event-time timeout (the BTC key gets no rows in the flushing "
    "batches), streak reset on equal averages, and transition-only "
    "emission.",
    tags=("streaming", "window", "stateful", "golden"),
)
def stream_trend_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_flink_pratices_spark.streaming.trend import trend_stream

    rows = [
        (
            code,
            datetime.datetime.fromtimestamp(
                _BASE_US / 1_000_000 + sec, datetime.timezone.utc
            ),
            vol,
        )
        for code, sec, vol in _TREND_ROWS
    ]
    return _run_memory_stream(
        spark,
        rows,
        "code string, ts timestamp, volume double",
        trend_stream,
        "afp_trend_golden",
        chunks=3,
    )


#: streaming-CDC golden corpus: 2 replay batches of 4 rows. Pins the
#: latest-state-with-tombstones contract across micro-batches: key 1 is
#: upserted in batch 1 and tombstoned in batch 2 (absent from the final
#: snapshot); key 2's batch-1 tombstone is superseded by a batch-2 upsert;
#: key 3 has two EQUAL timestamps resolved by the event_id tiebreak
#: (across batches — the state must carry the losing candidate until the
#: winner arrives); keys 4/5 are plain single upserts, one per batch.
_CDC_ROWS = [
    (1, 0, "click", 1.0, 10),
    (2, 0, "error", 0.0, 20),
    (3, 0, "click", 1.0, 30),
    (4, 5, "signup", 4.0, 40),
    (1, 30, "error", 0.0, 11),
    (2, 30, "view", 2.5, 21),
    (3, 0, "purchase", 9.0, 31),
    (5, 40, "click", 7.0, 50),
]


@register(
    "stream_cdc_golden",
    oracle=f"""
    SELECT * FROM (VALUES
      (CAST(2 AS BIGINT), CAST({_BASE_US + 30_000_000} AS BIGINT), 'view',
       CAST(2.5 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST({_BASE_US} AS BIGINT), 'purchase',
       CAST(9.0 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST({_BASE_US + 5_000_000} AS BIGINT), 'signup',
       CAST(4.0 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST({_BASE_US + 40_000_000} AS BIGINT), 'click',
       CAST(7.0 AS DOUBLE))
    ) AS t(user_id, last_us, last_event_type, last_value)
    """,
    doc="Streaming CDC compaction (the streaming twin of "
    "cdc_upsert_compaction): a keyed upsert changelog with 'error' "
    "tombstones materialized to the latest-state snapshot through a real "
    "readStream — max_by(state, (ts, event_id)) in complete mode, so the "
    "running aggregate IS the compacted table and every micro-batch "
    "publishes a consistent snapshot. Pins tombstone-last deletion, "
    "tombstone-then-upsert resurrection, and the equal-ts event_id "
    "tiebreak across micro-batch boundaries. State is one struct per "
    "live key — the same bound the batch operator's map-side combine "
    "gives, which is what makes the pattern viable as a continuously-"
    "maintained 100 TB materialization.",
    tags=("streaming", "cdc", "golden"),
)
def stream_cdc_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    rows = [
        (
            uid,
            datetime.datetime.fromtimestamp(
                _BASE_US / 1_000_000 + off, datetime.timezone.utc
            ),
            etype,
            val,
            eid,
        )
        for uid, off, etype, val, eid in _CDC_ROWS
    ]

    def build(src):
        state = F.struct(F.col("ts"), F.col("event_type"), F.col("value"))
        ord_key = F.struct(F.col("ts"), F.col("event_id"))
        return (
            src.groupBy("user_id")
            .agg(F.max_by(state, ord_key).alias("s"))
            .filter(F.col("s.event_type") != "error")
            .select(
                "user_id",
                F.unix_micros("s.ts").alias("last_us"),
                F.col("s.event_type").alias("last_event_type"),
                F.col("s.value").alias("last_value"),
            )
        )

    return _run_memory_stream(
        spark,
        rows,
        "user_id long, ts timestamp, event_type string, value double, event_id long",
        build,
        "afp_cdc_golden",
        chunks=2,
        output_mode="complete",
    )


# --- streaming decontamination golden (VERDICT r10 #7) ----------------------

#: static eval split: the fixed benchmark corpus the bloom is built from
#: ONCE. Production shape: the eval superset is frozen while training
#: batches keep arriving — so the bitmap is built once, broadcast, and
#: every micro-batch reuses the same broadcast (never rebuilt per batch).
_DECON_EVAL_TEXTS = [
    (1000, "the quick brown fox jumps over the lazy dog"),
    (1001, "pack my box with five dozen liquor jugs"),
]

#: train documents replayed in 3 micro-batches. Docs 2/4/6 each share a
#: 3-gram shingle with an eval doc (contaminated, dropped); 1 and 5 are
#: clean; 3 has <3 words → zero shingles → clean by construction (the
#: no-shingle edge both engines must agree on).
_DECON_TRAIN_ROWS = [
    (1, "completely novel words nobody else wrote here"),
    (2, "the quick brown fox appears again tonight"),
    (3, "tiny doc"),
    (4, "pack my box with care always"),
    (5, "another unique sentence streaming through batch three"),
    (6, "five dozen liquor jugs on the shelf"),
]

#: diagnostic for tests: micro-batch ids the last stream_decon_golden run
#: processed (proves the multi-batch replay actually split).
#: SINGLE-INVOCATION ASSUMPTION (ADVICE r11): the foreachBatch callback
#: appends to this module global (and to the invocation's local result
#: list), so two CONCURRENT stream_decon_golden runs in one process would
#: interleave the diagnostic. All golden queries are sequential by
#: contract — each spins up and drains its own bounded stream before
#: returning, and the driver/pytest invoke them one at a time — so the
#: global is only ever read after the writer finished. Results themselves
#: are per-invocation (the `out` list is a closure local, never shared).
_DECON_LAST_BATCHES: list[int] = []


@register(
    "stream_decon_golden",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(5 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(5 AS BIGINT), CAST(5 AS BIGINT))
    ) AS t(doc_id, n_shingles)
    """,
    doc="Streaming twin of decontaminate_bloom (VERDICT r10 #7): train "
    "document batches arrive through a real readStream and a foreachBatch "
    "sink probes each batch against a STATIC eval bloom — the bitmap is "
    "built once from the eval split (same distributed _build_bloom as the "
    "batch operator), broadcast once, and REUSED by every micro-batch; "
    "the exact verify join runs only over bloom-positive shingle rows "
    "(same no-false-negative contract, same Arrow probe kernel via "
    "curation._bloom_probe_fn). Output is the clean documents with their "
    "shingle counts — the delta-ingest decontamination shape a production "
    "pipeline runs as new crawl batches land.",
    tags=("streaming", "contamination", "bloom", "golden", "llm-pipeline"),
)
def stream_decon_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from apache_flink_pratices_spark.operators.curation import (
        _bloom_probe_fn,
        _build_bloom,
    )
    from apache_flink_pratices_spark.operators.dedup import shingles_of
    from apache_flink_pratices_spark.session import engine_shuffle_width

    # bloom + exact-verify set built ONCE from the static eval split
    eval_docs = spark.createDataFrame(_DECON_EVAL_TEXTS, "doc_id long, text string")
    eval_sh = shingles_of(eval_docs).select("h").distinct()
    bc = spark.sparkContext.broadcast(_build_bloom(eval_sh).tobytes())

    out: list[tuple[int, int]] = []
    _DECON_LAST_BATCHES.clear()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _DECON_LAST_BATCHES.append(batch_id)
        sh = shingles_of(batch_df.select("doc_id", "text"))
        probed = sh.mapInArrow(
            _bloom_probe_fn(bc), "doc_id long, h long, hit int"
        )
        sizes = probed.groupBy("doc_id").agg(F.count("*").alias("n"))
        dirty = (
            probed.filter(F.col("hit") == 1)
            .join(F.broadcast(eval_sh), "h")
            .select("doc_id")
            .distinct()
        )
        clean = (
            batch_df.select("doc_id")
            .join(dirty, "doc_id", "left_anti")
            .join(sizes, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_shingles"),
            )
        )
        out.extend((r["doc_id"], r["n_shingles"]) for r in clean.collect())

    with engine_shuffle_width(spark):
        with tempfile.TemporaryDirectory(prefix="afp-golden-") as d:
            src = stream_from_collection(
                spark,
                _DECON_TRAIN_ROWS,
                "doc_id long, text string",
                os.path.join(d, "in"),
                chunks=3,
            )
            q = (
                src.writeStream.foreachBatch(process)
                .option("checkpointLocation", os.path.join(d, "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    return spark.createDataFrame(sorted(out), "doc_id long, n_shingles long")
