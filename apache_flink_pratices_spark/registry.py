"""Query registry: single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers a :class:`QuerySpec`
here; ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry. Specs without ``oracle`` are genuinely non-SQL-expressible
(custom stateful streaming) and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import glob
import json
import os
import re
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: §2-critical queries that must stay inside the driver's checked window
#: EVERY round, even when they already have a recent green row (the driver
#: checks the FIRST N entries of ``queries()``; everything §2-anchoring
#: belongs there every round, not just on rotation). Superset of the
#: ``S2_ANCHORS`` guard in ``tests/test_registry_order.py`` (VERDICT r4 #1:
#: anchors must sort into the window UNCONDITIONALLY, not as a same-round
#: tie-breaker, or a fresh driver row rotates them out).
#: Re-anchor on code change: a query whose semantics change goes into
#: ``CRITICAL`` for one round, so the change carries a fresh gate row.
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


def _row_is_green(row: object) -> bool:
    """A driver row counts as checked ONLY when fully green.

    Rows with any ``*_match`` false or ``err`` set mean the driver ran the
    query and it FAILED; treating those as 'checked' would rotate a
    known-failing query out of the window instead of re-checking it first
    (ADVICE r4 medium)."""
    return (
        isinstance(row, dict)
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and not row.get("err")
    )


def _driver_check_rows(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """query name -> (latest round with any driver row, that row was green).

    Read from the ``CORRECTNESS_r*.json`` files the driver commits into
    the repo root each round. Queries absent from every file have never
    been driver-checked."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(root or _REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, _row_is_green(row))
    return latest


def _driver_check_history(root: str | None = None) -> dict[str, int]:
    """query name -> latest round with a GREEN driver CORRECTNESS row.

    A query whose only rows are failing is treated as never-checked, so
    it sorts to the front of :func:`all_specs` and is re-checked first."""
    hist: dict[str, int] = {}
    for path in glob.glob(os.path.join(root or _REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if _row_is_green(row):
                hist[name] = max(hist.get(name, 0), rnd)
    return hist


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB over the same parquet views
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
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
    """Every registered spec, in driver-gate priority order.

    The driver's correctness gate checks the FIRST ~50 entries of
    ``queries()`` (dict iteration order), so ordering is part of the
    contract. Priority groups, each sorted by last GREEN round (never
    green = -1, first) then registration order:

    1. queries whose LATEST driver row is failing — a known-red query
       must be re-checked before anything else (ADVICE r4);
    2. the §2-critical anchors (:data:`CRITICAL`) — in the window EVERY
       round, unconditionally, even with a fresh green row (VERDICT r4:
       a freshness-first sort rotated the flagship stream goldens out
       the moment the driver committed their green rows);
    3. everything else — never-checked first, then stalest-green first.

    With 14 anchors the remaining ~36 window slots rotate the stale
    backlog through in ≤2 rounds. The history is re-read from the
    CORRECTNESS files the driver commits, so this adapts each round.

    Overflow: when criticals + never-checked together exceed the ~50-slot
    window (a burst of newly registered queries), the LAST-registered
    never-checked queries spill past the window for one round. That is the
    self-healing choice: next round the spilled queries are the only
    never-checked entries, so they sort to the very front of group 3 and
    get checked first. ``tests/test_registry_order.py`` pins both the
    no-overflow invariant and this exact spill policy."""
    # Import operator modules for their registration side effects.
    from apache_flink_pratices_spark import operators  # noqa: F401

    latest = _driver_check_rows()
    hist = _driver_check_history()
    crit = set(CRITICAL)
    reg_idx = {n: i for i, n in enumerate(_REGISTRY)}

    def key(name: str) -> tuple[int, int, int]:
        row = latest.get(name)
        if row is not None and not row[1]:
            group = 0  # latest driver row failing: re-check first
        elif name in crit:
            group = 1
        else:
            group = 2
        return (group, hist.get(name, -1), reg_idx[name])

    return {n: _REGISTRY[n] for n in sorted(_REGISTRY, key=key)}


def bench_specs() -> dict[str, QuerySpec]:
    """The bench=True specs in REGISTRATION order.

    Deliberately decoupled from :func:`all_specs`'s driver-gate rotation:
    bench timings are position-in-session sensitive (whole-stage-codegen
    JIT and parquet-reader warm-up make an identical plan ~1.4× slower as
    the 2nd query of a session than the 20th — measured in
    docs/scale_notes.md), so round-over-round comparability requires an
    order that never changes when CORRECTNESS files rotate the gate
    window."""
    from apache_flink_pratices_spark import operators  # noqa: F401

    return {n: s for n, s in _REGISTRY.items() if s.bench}


def _cached_plans(spark: SparkSession) -> list:
    """The JVM CacheManager's live entries' logical plans (py4j proxies)."""
    it = (
        spark._jsparkSession.sharedState().cacheManager().cachedData().iterator()
    )
    out = []
    while it.hasNext():
        out.append(it.next().plan())
    return out


def cached_entry_count(spark: SparkSession) -> int:
    """Number of live CacheManager entries — the executor-storage growth
    signal ``run_and_release`` bounds (and its test asserts on)."""
    return (
        spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    )


def _plan_keys_items(spark: SparkSession, plans: list):
    """[(plan proxy, (identityHashCode, semanticHash))] for live entries."""
    jvm = spark._jvm
    return [
        (p, (jvm.System.identityHashCode(p), p.semanticHash())) for p in plans
    ]


def _plan_keys(spark: SparkSession, plans: list) -> set:
    return {key for _, key in _plan_keys_items(spark, plans)}


@contextmanager
def released_caches(spark: SparkSession):
    """Release every cache entry CREATED inside the block on exit.

    Several operators deliberately leave corpus-sized frames persisted
    for the session (LSH/IVF bucket frames, minhash signatures, the
    simhash fingerprint feeding the pair artifact) because Spark's
    CacheManager dedupes entries by canonicalized plan, so sibling
    queries in the same session share them — but a LONG-LIVED session
    invoking many such queries accumulates executor storage without
    bound (VERDICT r8 #5). This scopes that growth: entries present
    before the block are left alone (identity-compared via the JVM
    object, so a block re-persisting an already-cached plan does not
    evict the original owner's entry); entries the block created are
    uncached on exit, success or failure — with cascade=false, because
    cascade=true would also evict PRE-EXISTING entries whose plans
    contain a released plan as a subtree (e.g. a user-cached frame
    derived from an upstream a query re-persisted), violating the
    left-alone guarantee (review r9; pinned by the dependent-plan case
    in tests/test_cache_release.py).

    Driver-side cost is one CacheManager scan per entry/exit — no Spark
    jobs. Queries re-run after release simply rebuild their caches.

    Entries are keyed by ``(System.identityHashCode, plan.semanticHash())``
    — identityHashCode alone is not unique, and a collision between a
    pre-block plan and a block-created plan would silently leak the new
    entry past the release (ADVICE r9); the semanticHash pair makes a
    double collision vanishingly unlikely while staying identity-true
    for the re-persist-existing-plan case (same object → same pair).

    The snapshot path reaches private JVM internals
    (``sharedState().cacheManager()``), so it is capability-probed: if a
    Spark upgrade moves that API, the block DEGRADES instead of raising
    (VERDICT r9 #6) — on exit it calls the public
    ``spark.catalog.clearCache()``, which still bounds session cache
    growth (the feature's contract) at the documented cost of also
    evicting pre-existing entries; those are correctness-neutral and
    rebuild lazily on next use. Pinned by the missing-API simulation in
    ``tests/test_cache_release.py``."""
    try:
        before = _plan_keys(spark, _cached_plans(spark))
    except Exception:  # private API gone: degrade, don't raise
        try:
            yield
        finally:
            spark.catalog.clearCache()
        return
    try:
        yield
    finally:
        try:
            cm = spark._jsparkSession.sharedState().cacheManager()
            for p, key in _plan_keys_items(spark, _cached_plans(spark)):
                if key not in before:
                    cm.uncacheQuery(spark._jsparkSession, p, False)
        except Exception:  # API vanished mid-block (same degraded path)
            spark.catalog.clearCache()


def run_and_release(spark: SparkSession, name: str, sf_dir: str) -> int:
    """Run a registered query end-to-end and release any session cache it
    created; returns the materialized row count.

    The teardown wrapper for long-lived sessions that invoke many
    registered queries (a service loop, a scheduled sweep): each query
    still gets its intra-run cache reuse, but nothing it persisted
    outlives the call. One-shot drivers (bench.py subprocesses, the
    correctness gate) don't need it — their session dies with the query."""
    spec = all_specs()[name]
    with released_caches(spark):
        return spec.fn(spark, sf_dir).count()


def queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in all_specs().items() if s.oracle is not None}
