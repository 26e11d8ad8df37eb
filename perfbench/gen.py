"""Seeded input generators. Each writes parquet with pyarrow, so no Spark
session is needed and the program under test sees only the files.

Every generator is a pure function of its arguments: the same seed gives
byte-identical rows (the smoke tests pin this).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_609_459_200_000  # 2021-01-01T00:00:00Z

# -- fraud_stream ----------------------------------------------------------

FRAUD_SCHEMA = "account_id long, ts timestamp, amount double"


@dataclass
class FraudFeed:
    """One fraud input backlog: ``files[i]`` is micro-batch ``i``."""

    files: list[list[tuple[int, int, float]]]  # (account_id, ts_ms, amount)
    late_rows: int


def fraud_feed(
    seed: int,
    n_files: int,
    rows_per_file: int,
    n_accounts: int = 3000,
    zipf_s: float = 1.1,
    late_share: float = 0.01,
    late_files: int = 2,
) -> FraudFeed:
    """Transactions over Zipf-skewed accounts, 1-20 ms apart.

    Amount mix: 30% small (0.01-1.00), 55% mid, 15% large (500-2000), so
    hot accounts alert often and cold ones let their 60 s timers fire.
    Account ``k`` is the ``k``-th hottest whatever the seed, so every seed
    loads the state partitions with the same skew.
    ``late_share`` of the rows are moved ``late_files`` files later than
    their event time. Spark filters late rows against the previous batch's
    watermark, so a row must land two files late to fall behind it."""
    rng = np.random.default_rng(seed)
    n = n_files * rows_per_file
    weights = np.arange(1, n_accounts + 1, dtype=np.float64) ** -zipf_s
    weights /= weights.sum()
    acct = rng.choice(n_accounts, size=n, p=weights) + 1
    ts_ms = BASE_MS + np.cumsum(rng.integers(1, 21, size=n))
    kind = rng.choice(3, size=n, p=[0.30, 0.55, 0.15])
    cents = np.where(
        kind == 0,
        rng.integers(1, 101, size=n),
        np.where(kind == 1, rng.integers(101, 50_000, size=n), rng.integers(50_000, 200_001, size=n)),
    )
    file_of = np.arange(n) // rows_per_file
    # never move a file's newest row: it sets that file's watermark
    movable = (file_of < n_files - late_files) & ((np.arange(n) + 1) % rows_per_file != 0)
    late = movable & (rng.random(n) < late_share)
    file_of = file_of + late * late_files
    files: list[list[tuple[int, int, float]]] = [[] for _ in range(n_files)]
    for a, t, c, f in zip(acct.tolist(), ts_ms.tolist(), cents.tolist(), file_of.tolist()):
        files[f].append((a, t, c / 100.0))
    return FraudFeed(files=files, late_rows=int(late.sum()))


def write_fraud(feed: FraudFeed, in_dir: str) -> None:
    """One parquet file per micro-batch, modification times in batch order
    (the file source orders its backlog by modification time)."""
    os.makedirs(in_dir, exist_ok=True)
    t0 = 1_600_000_000
    for i, rows in enumerate(feed.files):
        acct, ts_ms, amount = zip(*rows)
        table = pa.table(
            {
                "account_id": pa.array(acct, pa.int64()),
                "ts": pa.array(np.asarray(ts_ms, dtype="int64") * 1000, pa.timestamp("us", tz="UTC")),
                "amount": pa.array(amount, pa.float64()),
            }
        )
        path = os.path.join(in_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (t0 + i, t0 + i))


# -- market_ingest -----------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def write_events(seed: int, n_rows: int, sf_dir: str) -> None:
    """An ``events`` table shaped like the engine's testdata (the only
    table the ingest queries read): ids 0..n-1, microsecond event times
    over 30 days, 1500 users, five event types, two-decimal values."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n_rows)) + BASE_MS * 1000
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, size=n_rows), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=n_rows)], pa.string()),
            "value": pa.array(rng.integers(0, 50_000, size=n_rows) / 100.0, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_rows)], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


def digest_dir(path: str) -> str:
    """sha256 over every file under ``path`` in name order (smoke tests)."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode())
                h.update(fh.read())
    return h.hexdigest()
