"""Query registry: single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers a :class:`QuerySpec`
here; ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry. Every spec carries DuckDB oracle SQL; the streaming
goldens carry theirs as VALUES literals of the pinned output.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: §2-critical queries, first in ``queries()`` in this order, so a driver
#: that checks only the first N entries always checks them. Pinned against
#: the ``S2_ANCHORS`` copy in ``tests/test_registry_order.py``.
CRITICAL = (
    # -- streaming goldens (W1-W8 flagship hard signals) --
    "stream_fraud_golden",  # W1/W2 keyed state machine + timers
    "stream_cep_signals_golden",  # J1/W4-W6 4-stream co-process
    "stream_window_golden",  # W3/A2 watermark + drop-late
    "stream_session_golden",
    "stream_dedup_golden",  # W8 dedup stance
    "stream_join_golden",
    "stream_topk_golden",
    "stream_trend_golden",  # A2 2-consecutive-decreases trend rule
    "stream_cdc_golden",  # CDC latest-state compaction (streaming twin)
    "stream_spoof_golden",  # W6 per-price spoof-vanish timer, isolated (r6)
    "stream_restore_golden",  # W4 MapState+TTL restore guard (ADVICE r6)
    # -- batch anchors per §2 component --
    "proto_roundtrip_trades",  # P8 protobuf wire codec
    "fraud_alerts",  # J2 temporal correlation (reference flagship, batch twin)
    "p_market_pipeline",  # P4-P7 parse/validate/normalize/event-time
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str  # ANSI SQL for DuckDB over the same parquet views
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, bench=bench, tags=tags)
        return fn

    return deco


def get_spec(name: str) -> QuerySpec:
    """Spec lookup WITHOUT triggering the full operators-package import.

    For operator modules that compose other operators' oracles at module
    import time (the caller must import the producing module first);
    external callers want :func:`all_specs`."""
    return _REGISTRY[name]


def all_specs() -> dict[str, QuerySpec]:
    """Every registered spec: :data:`CRITICAL` first, in that order, then
    the rest in registration order."""
    # Import operator modules for their registration side effects.
    from apache_flink_pratices_spark import operators  # noqa: F401

    rest = [n for n in _REGISTRY if n not in CRITICAL]
    return {n: _REGISTRY[n] for n in (*CRITICAL, *rest)}


def bench_specs() -> dict[str, QuerySpec]:
    """The bench=True specs in REGISTRATION order.

    Kept apart from :func:`all_specs`'s CRITICAL-first order, so the
    bench artifact's layout does not move when the anchor set does."""
    from apache_flink_pratices_spark import operators  # noqa: F401

    return {n: s for n, s in _REGISTRY.items() if s.bench}


def queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in all_specs().items()}
