"""Streaming-throughput benchmark paths (VERDICT r6 #6).

The reference's only end-to-end performance targets are delivery-side:
~1k msg/s async producer capacity (`시스템 아키텍처.md:458-484`) and the
"a day of data in minutes" backtest bar (`:106`). The repo's gates lived
only in pytest (`tests/streaming/test_streaming_throughput.py`); this
module packages the two flagship stateful paths — the W1/W2 fraud state
machine and the J1/W4-W6 CEP signal generator — as measurable
events-per-second runs so ``bench.py`` can emit the metric into the
per-round BENCH artifact.

Each run drives a REAL Structured Streaming query end to end (file
source → keyed shuffle → Python state machine → sink) and returns
``(events_per_sec, n_output_rows)``; callers assert ``n_output_rows > 0``
so the measured rate always reflects genuine state-machine work, never an
empty pipeline. Every run keeps the session's one shuffle width
(``session.tune``) as its state-partition count: the bench measures the
width production runs at.
"""

from __future__ import annotations

import datetime
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from apache_flink_pratices_spark.session import _cpus
from apache_flink_pratices_spark.streaming.fraud import fraud_alert_stream
from apache_flink_pratices_spark.streaming.signal_generator import (
    SCENARIO_BASE,
    STABLE_LEVELS,
    UNIFIED_SCHEMA,
    lifecycle_rows,
    ob_row,
    signal_stream,
    trade_row,
)

FRAUD_SCHEMA = "account_id long, ts timestamp, amount double"
FRAUD_ACCOUNTS = 500


def write_input(spark: SparkSession, in_dir: str, rows: list[tuple], schema: str) -> int:
    """Write deterministic input rows once as parquet and return their
    count, the rate denominator: measured runs over the same input share
    it instead of rebuilding identical rows + parquet per run (review r7).
    One file per core: the stream's first batch reads them in parallel at
    the session's width."""
    spark.createDataFrame(rows, schema).coalesce(_cpus()).write.mode(
        "overwrite"
    ).parquet(in_dir)
    return len(rows)


def _drain(
    spark: SparkSession,
    stream_fn: Callable[[DataFrame], DataFrame],
    schema: str,
    in_dir: str,
    workdir: str,
    name: str,
) -> tuple[float, int]:
    """Run ``stream_fn`` over the parquet in ``in_dir`` into a memory sink
    named ``name`` at the session's shuffle width (its state partitions);
    returns ``(seconds to drain the input, output rows)``."""
    src = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        stream_fn(src)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .outputMode("append")
        .start()
    )
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
        # measure BEFORE stop(): query teardown (thread join, checkpoint
        # close) is not event-processing work (review r7)
        wall = time.perf_counter() - t0
    finally:
        q.stop()
    n_out = spark.sql(f"SELECT COUNT(*) AS n FROM {name}").collect()[0].n
    return wall, int(n_out)


def fraud_rows(n_tx: int) -> list[tuple]:
    """Deterministic fraud input over ``FRAUD_ACCOUNTS`` accounts. Amounts
    alternate small/large per account so ValueState flips and timers
    arm/fire — the worst-case per-event state path, not a no-op
    passthrough."""
    return [
        (
            i % FRAUD_ACCOUNTS,
            SCENARIO_BASE + datetime.timedelta(milliseconds=i),
            0.5 if (i // FRAUD_ACCOUNTS) % 2 == 0 else 700.0,
        )
        for i in range(n_tx)
    ]


def fraud_events_per_sec(
    spark: SparkSession, workdir: str, in_dir: str, n_rows: int
) -> tuple[float, int]:
    """End-to-end tx/s through the keyed fraud state machine over
    ``in_dir`` as written by :func:`write_input`, whose returned row count
    is ``n_rows`` — the count travels with the prepared input so the rate
    denominator can never drift from what the query processes (review r7).
    Returns ``(events_per_sec, n_alerts)``."""
    wall, n_alerts = _drain(
        spark, fraud_alert_stream, FRAUD_SCHEMA, in_dir, workdir, "bench_fraud_tput"
    )
    return n_rows / wall, n_alerts


def _cep_rows(n_codes: int, n_cycles: int) -> list[tuple]:
    """Unified-stream rows: per (code, cycle) the signal-generator
    lifecycle (:func:`lifecycle_rows`) — baseline books (warm-up), density
    drop + spoof level, vanish, watch fire, falling trades, imbalance
    SELL — cycles 200 s apart."""
    return [
        row
        for c in range(n_codes)
        for j in range(n_cycles)
        for row in lifecycle_rows(f"KRW-C{c:04d}", j * 200.0)
    ]


#: backtest replay slice geometry (the "day of data in minutes" bar,
#: reference architecture goal `시스템 아키텍처.md:106`)
REPLAY_SLICE_S = 900
REPLAY_DAY_S = 86_400
REPLAY_N_CODES = 8


def replay_day_slice_rows(
    n_codes: int = REPLAY_N_CODES, slice_s: int = REPLAY_SLICE_S
) -> list[tuple]:
    """Full-fidelity feed slice: 2 books/s + 1 trade/s per market, with a
    spoof episode (density drop + vanishing wall → armed watch → BUY)
    every 300 s per market so the CEP state machine does real work.
    Shared by the pytest gate (tests/streaming/test_backtest_replay.py)
    and the bench ``replay_day_s`` metric (VERDICT r7 #5)."""
    rows: list[tuple] = []
    episode_at = {e for e in range(300, slice_s, 300)} or {slice_s // 2}
    for c in range(n_codes):
        code = f"KRW-C{c:02d}"
        for s in range(slice_s):
            in_episode = any(e <= s < e + 4 for e in episode_at)
            if not in_episode:
                rows.append(ob_row(code, s, 1000, 1000, STABLE_LEVELS))
                rows.append(ob_row(code, s + 0.5, 1000, 1000, STABLE_LEVELS))
                rows.append(trade_row(code, s + 0.25, 50_000.0 + c, 5.0))
        for e in episode_at:
            rows.append(ob_row(code, e, 600, 1000,
                            [(100 + i, 30) for i in range(10)] + [(999, 300)]))
            rows.append(ob_row(code, e + 1, 600, 1000, [(100 + i, 60) for i in range(10)]))
            rows.append(ob_row(code, e + 2.2, 600, 1000, [(100 + i, 60) for i in range(10)]))
            rows.append(trade_row(code, e + 3, 50_000.0 + c, 5.0))
    rows.sort(key=lambda r: r[2])
    return rows


def replay_day_seconds(
    spark: SparkSession, workdir: str, in_dir: str, slice_s: int
) -> tuple[float, int]:
    """Extrapolated seconds to replay a full 24 h day of the feed in
    ``in_dir`` (a :func:`replay_day_slice_rows` slice of ``slice_s``
    seconds) through the real signal path; returns
    ``(day_seconds, n_signals)``.

    Linear extrapolation from the measured slice is sound because per-key
    state is bounded (TTL'd MapState, fixed-depth trailing windows):
    throughput does not degrade with stream length, only with per-batch
    volume, which the slice reproduces at full fidelity."""
    wall, n_signals = _drain(
        spark, signal_stream, UNIFIED_SCHEMA, in_dir, workdir, "bench_replay"
    )
    return wall * (REPLAY_DAY_S / slice_s), n_signals


def cep_events_per_sec(
    spark: SparkSession, workdir: str, in_dir: str, n_rows: int
) -> tuple[float, int]:
    """End-to-end ev/s through the 4-stream CEP signal generator (J1)
    over ``in_dir`` as written by :func:`write_input` from
    :func:`_cep_rows`, with every machine exercising the full buy+sell
    lifecycle per cycle (ListState windows, MapState positions, spoof
    watch timers). ``n_rows`` is the count :func:`write_input` returned."""
    wall, n_signals = _drain(
        spark, signal_stream, UNIFIED_SCHEMA, in_dir, workdir, "bench_cep_tput"
    )
    return n_rows / wall, n_signals


def measure_all(
    spark: SparkSession, wd: str, small: bool = False
) -> dict:
    """Warm up, prepare the deterministic inputs once, then run the three
    measured streaming paths ``stream_runs`` times and return the bench
    streaming dict (best rate / best day over runs, plus output counts).

    Extracted from bench.py so the measurement can run in a FRESH engine:
    measured in the same JVM after the 30-query batch headline loop, the
    identical paths lose ~2× to accumulated heap/JIT/session debris
    (r8: CEP 25.6k ev/s fresh vs 12.4k in-session) — a bench artifact,
    not a property of the streaming paths; a production streaming job
    owns its driver. See :func:`main` for the subprocess entry."""
    stream_runs = 1 if small else 3
    n_tx = 20_000 if small else 100_000
    n_codes, n_cycles = (50, 3) if small else (300, 17)
    rp_codes, rp_slice = (2, 120) if small else (8, 900)
    fraud_rate = cep_rate = 0.0
    day_s = float("inf")
    n_alerts = n_signals = n_replay_sigs = 0
    # per-run rates travel in the detail artifact (round 11): the
    # streaming window's INTER-subprocess variance measured up to 1.6x
    # on identical code, and a best-of-N alone cannot tell "one slow
    # run" from "the whole window was degraded" — three aligned lows
    # mean discard the window, not the code
    fraud_runs: list[int] = []
    cep_runs: list[int] = []
    replay_runs: list[float] = []

    def prepare(name: str, rows: list[tuple], schema: str) -> tuple[str, int]:
        in_dir = os.path.join(wd, name)
        return in_dir, write_input(spark, in_dir, rows, schema)

    if not small:  # warm-up: spin up workers/state server, untimed
        fraud_events_per_sec(
            spark, os.path.join(wd, "w0"),
            *prepare("w0_in", fraud_rows(2_000), FRAUD_SCHEMA),
        )
        cep_events_per_sec(
            spark, os.path.join(wd, "w1"),
            *prepare("w1_in", _cep_rows(10, 1), UNIFIED_SCHEMA),
        )
    fraud_in = prepare("fraud_in", fraud_rows(n_tx), FRAUD_SCHEMA)
    cep_in = prepare("cep_in", _cep_rows(n_codes, n_cycles), UNIFIED_SCHEMA)
    replay_in, replay_rows = prepare(
        "replay_in", replay_day_slice_rows(rp_codes, rp_slice), UNIFIED_SCHEMA
    )
    for r in range(stream_runs):
        rd = os.path.join(wd, f"r{r}")
        fr, n_alerts = fraud_events_per_sec(spark, os.path.join(rd, "f"), *fraud_in)
        cr, n_signals = cep_events_per_sec(spark, os.path.join(rd, "c"), *cep_in)
        ds, n_replay_sigs = replay_day_seconds(
            spark, os.path.join(rd, "p"), replay_in, rp_slice
        )
        fraud_rate, cep_rate = max(fraud_rate, fr), max(cep_rate, cr)
        day_s = min(day_s, ds)
        fraud_runs.append(int(fr))
        cep_runs.append(int(cr))
        replay_runs.append(round(ds, 1))
        # a rate over an empty pipeline is not a measurement: fail loudly
        # rather than record it (review r7; the small-mode pytest smoke
        # asserts the same contract)
        if n_alerts <= 0 or n_signals <= 0 or n_replay_sigs <= 0:
            raise RuntimeError(
                f"streaming bench produced no output (run {r}: "
                f"alerts={n_alerts}, signals={n_signals}, "
                f"replay_signals={n_replay_sigs})"
            )

    return {
        "fraud_ev_s": int(fraud_rate),
        "cep_ev_s": int(cep_rate),
        "replay_day_s": round(day_s, 1),
        "fraud_ev_s_runs": fraud_runs,
        "cep_ev_s_runs": cep_runs,
        "replay_day_s_runs": replay_runs,
        "fraud_output_alerts": int(n_alerts),
        "cep_output_signals": int(n_signals),
        "replay_output_signals": int(n_replay_sigs),
        "replay_slice": {
            "n_codes": rp_codes, "slice_s": rp_slice, "rows": replay_rows
        },
    }


def main() -> None:
    """Subprocess entry for bench.py: run the streaming measurement in a
    fresh engine and print ONE JSON line (the streaming dict)."""
    import json
    import tempfile

    from apache_flink_pratices_spark.session import get_spark

    small = os.environ.get("SPARK_GRAFT_STREAM_BENCH") == "small"
    spark = get_spark("afp-bench-streams")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="afp_bench_stream_") as wd:
        out = measure_all(spark, wd, small=small)
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
