"""Driver-gate window contract: the driver checks the FIRST ~50 entries of
``queries()``, so ordering IS correctness coverage. Pin that every
never-driver-checked query and every §2-critical query sits inside the
window (VERDICT r3 #1: 84 registered vs 50 checked left the flagship
stream goldens outside the hard signal)."""

from __future__ import annotations

import json

from apache_flink_pratices_spark.registry import (
    CRITICAL,
    _driver_check_history,
    _driver_check_rows,
    _row_is_green,
    all_specs,
    oracle_sql,
    queries,
)

WINDOW = 50

#: everything pinned unconditionally into the window: the §2 anchors plus
#: any query re-anchored into ``CRITICAL`` after a semantic change
PINNED = set(CRITICAL)

# §2-anchoring queries that must always be driver-checked (SURVEY §8).
# Shrunk in round 7 (VERDICT r6 #2): the 11 streaming goldens + protobuf
# wire codec + the J2 batch twin + the P4-P7 market pipeline. Everything
# else rotates as regular backlog under the re-anchor-on-code-change rule
# (registry.CRITICAL).
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


def test_window_covers_never_checked_and_critical():
    names = list(all_specs())
    window = set(names[:WINDOW])
    hist = _driver_check_history()
    never = {n for n in names if n not in hist}
    assert PINNED <= window, sorted(PINNED - window)
    assert S2_ANCHORS <= window, sorted(S2_ANCHORS - window)
    need = never | PINNED
    if len(need) <= WINDOW:
        assert never <= window, f"never-driver-checked outside window: {sorted(never - window)}"
    else:
        # overflow: a registration burst pushed criticals+never past the
        # window. The spill must be exactly the excess, taken from the
        # LAST-registered never-checked queries (they become the only
        # never-checked next round and sort first — self-healing in one
        # round), and no slot may be wasted on an already-checked
        # non-critical query while a never-checked one spills.
        spilled = never - window
        assert len(spilled) == len(need) - WINDOW, sorted(spilled)
        assert window <= need, sorted(window - need)
        # spill order = REGISTRATION order (not the sorted view): the
        # earliest-registered never-checked stay in, the latest spill.
        # Criticals are pinned via their own group, so only non-critical
        # never-checked compete for the remaining slots.
        from apache_flink_pratices_spark.registry import _REGISTRY

        reg = {n: i for i, n in enumerate(_REGISTRY)}
        competing = never - PINNED
        worst_in = max(reg[n] for n in competing & window)
        best_out = min(reg[n] for n in spilled)
        assert worst_in < best_out, (worst_in, best_out)


def test_critical_is_anchor_superset():
    """The unconditional-window set must cover every §2 anchor, or a fresh
    green row rotates an anchor out (VERDICT r4 #1)."""
    assert S2_ANCHORS <= set(CRITICAL), sorted(S2_ANCHORS - set(CRITICAL))


def test_anchors_stay_in_window_even_when_freshest(tmp_path, monkeypatch):
    """Simulate the post-driver-commit state that broke r4: every anchor
    has the FRESHEST green row, everything else is stale. Anchors must
    still sort inside the window."""
    import apache_flink_pratices_spark.registry as reg

    names = list(all_specs())
    stale = {n: _green_row() for n in names if n not in S2_ANCHORS}
    fresh = {n: _green_row() for n in S2_ANCHORS}
    (tmp_path / "CORRECTNESS_r08.json").write_text(json.dumps(stale))
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(fresh))
    monkeypatch.setattr(reg, "_REPO_ROOT", str(tmp_path))
    window = set(list(all_specs())[:WINDOW])
    assert S2_ANCHORS <= window, sorted(S2_ANCHORS - window)


def test_failing_latest_row_sorts_to_front(tmp_path, monkeypatch):
    """A query whose latest driver row FAILED must be re-checked first,
    not rotated to the back as 'freshly checked' (ADVICE r4 medium)."""
    import apache_flink_pratices_spark.registry as reg

    names = list(all_specs())
    victim = next(n for n in names if n not in S2_ANCHORS)
    rows = {n: _green_row() for n in names}
    rows[victim] = {**_green_row(), "hash_match": False}
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(rows))
    monkeypatch.setattr(reg, "_REPO_ROOT", str(tmp_path))
    ordered = list(all_specs())
    assert ordered[0] == victim
    # and the green history treats it as never green
    assert victim not in _driver_check_history(str(tmp_path))
    latest = _driver_check_rows(str(tmp_path))
    assert latest[victim] == (9, False)


def _green_row():
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": None,
    }


def test_row_is_green_requires_all_matches_and_no_err():
    assert _row_is_green(_green_row())
    for k in ("rows_match", "schema_match", "hash_match"):
        assert not _row_is_green({**_green_row(), k: False})
    assert not _row_is_green({**_green_row(), "err": "boom"})
    assert not _row_is_green(None)


def test_views_share_the_ordering():
    names = list(all_specs())
    assert list(queries()) == names
    with_oracle = [n for n in names if all_specs()[n].oracle is not None]
    assert list(oracle_sql()) == with_oracle


def test_entry_contract_same_order():
    import __spark_entry__ as m

    assert list(m.queries()) == list(all_specs())


def test_critical_set_leaves_rotation_capacity():
    """The anchors are pinned into the ~50-slot window every round; keep
    enough slack that never-checked newcomers plus a meaningful stale
    rotation still fit (≥28 free slots per VERDICT r6 #2), or gate
    coverage stalls. The budget covers re-anchored queries too — a
    one-round pin is still a burned rotation slot."""
    assert len(CRITICAL) <= WINDOW - 28, len(CRITICAL)


def test_backlog_rotates_after_r5_checks(tmp_path, monkeypatch):
    """Simulate the driver committing green r5 rows for the current
    window: next round's window must still hold every anchor AND fill
    its free slots with the STALEST backlog (queries whose last green
    row is oldest), not with freshly-checked ones."""
    import apache_flink_pratices_spark.registry as reg

    names = list(all_specs())
    window_now = names[:WINDOW]
    hist = _driver_check_history()
    r5 = {n: _green_row() for n in window_now}
    (tmp_path / "CORRECTNESS_r05.json").write_text(json.dumps(r5))
    # carry the real history forward so staleness ordering is realistic
    for rnd in sorted({v for v in hist.values()}):
        rows = {n: _green_row() for n, r in hist.items() if r == rnd}
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    monkeypatch.setattr(reg, "_REPO_ROOT", str(tmp_path))
    nxt = list(all_specs())
    window_next = nxt[:WINDOW]
    assert PINNED <= set(window_next)
    # every non-pinned slot goes to the stalest survivors: nothing
    # checked in r5 may displace something whose last green is older
    hist_next = _driver_check_history(str(tmp_path))
    non_crit = [n for n in window_next if n not in PINNED]
    outside = [n for n in nxt[WINDOW:] if n not in PINNED]
    if non_crit and outside:
        worst_in = max(hist_next.get(n, -1) for n in non_crit)
        best_out = min(hist_next.get(n, -1) for n in outside)
        assert worst_in <= best_out, (worst_in, best_out)


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
