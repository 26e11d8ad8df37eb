"""Portable deterministic hashing (identical results in Spark and DuckDB).

Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` use different algorithms,
so cross-engine-checkable operators (minhash, fingerprints, deterministic
signal IDs) derive 56-bit integers from md5 hex digests instead:

    Spark : conv(substr(md5(x), 1, 14), 16, 10)::bigint
    DuckDB: ('0x' || substr(md5(x), 1, 14))::bigint

md5 here is a *stable mixing function*, not a security primitive. 14 hex
digits = 56 bits keeps products/sums inside int64 when combined with small
multipliers.

Deterministic signal IDs mirror the reference's replay-safe sha256 scheme
(reference ``docs/project docs/호가창 분석 스캘퍼: 시스템 아키텍처.md:977-998``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: large prime for fingerprint arithmetic (fits products in int64)
MOD = 1_000_000_007


def md5_long(col: Column, seed: int | None = None) -> Column:
    """56-bit integer hash of a string column; optional seed."""
    if seed is not None:
        col = F.concat(F.lit(f"{seed}|"), col)
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def sql_md5_long(expr: str, seed: int | None = None) -> str:
    """DuckDB rendering of :func:`md5_long`."""
    if seed is not None:
        expr = f"'{seed}|' || ({expr})"
    return f"CAST(('0x' || substr(md5({expr}), 1, 14)) AS BIGINT)"


def signal_id(*cols: Column) -> Column:
    """sha256 over '|'-joined parts — deterministic, replay-idempotent."""
    return F.sha2(F.concat_ws("|", *[c.cast("string") for c in cols]), 256)


def sql_signal_id(*exprs: str) -> str:
    parts = ", ".join(f"CAST(({e}) AS VARCHAR)" for e in exprs)
    return f"sha256(concat_ws('|', {parts}))"
