"""Output checks. The stream references are computed without Spark and
without the program's rule code, from the documented semantics; the ingest
reference is the program's registered DuckDB oracle SQL.

- fraud: docs/fraud_semantics.md semantics #1 (keyed flag, 60 s event-time
  timers that are never deleted by a later small), plus the engine's
  late-data stance (rows behind the watermark are dropped and counted).
- ingest: the registered DuckDB oracle SQL, compared with the same
  normalisation as tests/test_oracle_parity.py.
"""

from __future__ import annotations

import math
from collections import defaultdict

SMALL = 1.00
LARGE = 500.00
WINDOW_MS = 60_000


def fraud_reference(files: list[list[tuple[int, int, float]]]) -> tuple[set, int]:
    """(alerts as {(account_id, ts_us, amount)}, rows dropped as late).

    A micro-batch drops rows at or behind the watermark of the batch before
    it (Spark filters late rows with the previous batch's watermark); the
    watermark is the newest event time seen so far (0 s delay)."""
    seen_max = 0
    wm_prev = 0  # watermark of the previous batch
    dropped = 0
    per_key: dict[int, list[tuple[int, float]]] = defaultdict(list)
    for rows in files:
        wm = seen_max
        for acct, ts_ms, amount in rows:
            if wm_prev and ts_ms <= wm_prev:
                dropped += 1
            else:
                per_key[acct].append((ts_ms, amount))
        seen_max = max(seen_max, max(ts for _, ts, _ in rows))
        wm_prev = wm
    alerts = set()
    for acct, events in per_key.items():
        flag = False
        latest = None
        armed: list[int] = []
        for ts_ms, amount in sorted(events, key=lambda e: e[0]):
            while armed and armed[0] < ts_ms:  # timers fire before the event
                armed.pop(0)
                flag, latest = False, None
            if flag and amount >= LARGE:
                alerts.add((acct, ts_ms * 1000, amount))
                if latest in armed:
                    armed.remove(latest)
                flag, latest = False, None
            elif amount <= SMALL:
                flag, latest = True, ts_ms + WINDOW_MS
                if latest not in armed:
                    armed.append(latest)
                    armed.sort()
    return alerts, dropped


def normalize(rows, colnames):
    """tests/test_oracle_parity.py's normalisation: columns by name, NaN as
    text, rows sorted with nulls last."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [tuple(colnames[i] for i in order)] + out


def oracle_rows(sf_dir: str, sql: str):
    """(column names, rows) of the oracle SQL over the generated events."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
        res = con.execute(sql)
        return [c[0] for c in res.description], [tuple(r) for r in res.fetchall()]
    finally:
        con.close()


def corrupt(value):
    """A deliberately wrong copy of an output, for the smoke tests: one
    element fewer (or one more late row)."""
    if isinstance(value, tuple):
        return (value[0], value[1] + 1)
    return value[:-1]
