"""Registry order contract: ``queries()`` starts with the §2-critical
anchors in ``CRITICAL`` order, then every other query in registration
order, so a driver that checks only the first N entries always checks the
anchors."""

from __future__ import annotations

from apache_flink_pratices_spark.registry import (
    _REGISTRY,
    CRITICAL,
    all_specs,
    oracle_sql,
    queries,
)

# §2-anchoring queries that must always be driver-checked (SURVEY §8): the
# 11 streaming goldens + protobuf wire codec + the J2 batch twin + the
# P4-P7 market pipeline. An independent copy of ``registry.CRITICAL``.
S2_ANCHORS = {
    "stream_fraud_golden",  # W1/W2 flagship
    "stream_cep_signals_golden",  # J1/W4-W6
    "stream_window_golden",  # W3/A2
    "stream_session_golden",
    "stream_dedup_golden",  # W8 dedup stance
    "stream_join_golden",
    "stream_topk_golden",
    "stream_trend_golden",  # A2 trend rule (r5)
    "stream_cdc_golden",  # CDC streaming twin
    "stream_spoof_golden",  # W6 spoof-vanish timer (r6)
    "stream_restore_golden",  # W4 MapState+TTL restore guard (ADVICE r6)
    "proto_roundtrip_trades",  # P8
    "fraud_alerts",  # J2
    "p_market_pipeline",  # P4-P7
}


#: the driver checks the first ~50 entries of ``queries()``
WINDOW = 50


def test_window_covers_never_checked_and_critical():
    """The registry keeps no driver-check history, so every query counts
    as never checked. The window must hold every anchor, and when the
    registry outgrows it the spill must be exactly the excess, taken from
    the last-registered non-critical queries."""
    names = list(all_specs())
    window = set(names[:WINDOW])
    never = set(names)
    assert S2_ANCHORS <= window, sorted(S2_ANCHORS - window)
    assert set(CRITICAL) <= window, sorted(set(CRITICAL) - window)
    if len(never) <= WINDOW:
        assert never <= window, sorted(never - window)
    else:
        spilled = never - window
        assert len(spilled) == len(never) - WINDOW, sorted(spilled)
        reg = {n: i for i, n in enumerate(_REGISTRY)}
        competing = never - set(CRITICAL)
        worst_in = max(reg[n] for n in competing & window)
        best_out = min(reg[n] for n in spilled)
        assert worst_in < best_out, (worst_in, best_out)


def test_critical_is_anchor_superset():
    """The pinned-first set must cover every §2 anchor."""
    assert S2_ANCHORS <= set(CRITICAL), sorted(S2_ANCHORS - set(CRITICAL))


def test_critical_first_then_registration_order():
    assert set(CRITICAL) == S2_ANCHORS
    names = list(queries())  # imports the operators, filling _REGISTRY
    assert names == list(CRITICAL) + [n for n in _REGISTRY if n not in CRITICAL]


def test_views_share_the_ordering():
    names = list(all_specs())
    assert list(queries()) == names
    assert list(oracle_sql()) == names


def test_entry_contract_same_order():
    import __spark_entry__ as m

    assert list(m.queries()) == list(all_specs())


def test_operator_index_doc_is_current():
    """docs/operator_index.md must match the registry (regenerate with
    tools/gen_operator_index.py when adding queries)."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    import gen_operator_index

    with open(os.path.join(repo, "docs", "operator_index.md")) as f:
        assert f.read() == gen_operator_index.render()


def test_registered_fn_is_the_named_function():
    """Every spec's callable must BE the function named after the query.
    Guards the decorator-placement trap (round 12: a helper inserted
    between `@register(...)` and its intended `def` silently registered
    the HELPER under the query's name — pytest imported the real
    function directly and stayed green while the driver contract broke;
    only the replica check caught it)."""
    from apache_flink_pratices_spark.registry import all_specs

    for name, spec in all_specs().items():
        assert spec.fn.__name__ == name, (name, spec.fn.__name__)
