"""Semantics of the as-of join kernel (operators/temporal.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.temporal import asof_join


def _ts(s: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(10.0)), (2, "a", _ts(20.0)), (3, "b", _ts(5.0))],
        "lid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, "a", _ts(9.0), 1.5),
            (101, "a", _ts(10.0), 2.5),  # exactly at left lid=1's ts
            (102, "a", _ts(15.0), 3.5),
            (103, "b", _ts(6.0), 4.5),  # after b's only left row
        ],
        "rid long, k string, rts timestamp, v double",
    )
    return left, right


def test_asof_inclusive_latest_and_null(spark):
    left, right = _frames(spark)
    out = {
        r["lid"]: (r["asof_rid"], r["asof_v"])
        for r in asof_join(left, right, "k", "ts", "rts", ("rid", "v")).collect()
    }
    # tie at identical ts: the right row AT the left ts is visible (inclusive)
    assert out[1] == (101, 2.5)
    # strictly latest preceding row wins, not the first
    assert out[2] == (102, 3.5)
    # no preceding right row -> NULLs survive (left-join semantics)
    assert out[3] == (None, None)


def test_asof_preserves_left_rowcount(spark):
    left, right = _frames(spark)
    joined = asof_join(left, right, "k", "ts", "rts", ("rid",))
    assert joined.count() == left.count()
    assert set(joined.columns) == {"lid", "k", "ts", "asof_rid"}


def test_asof_right_only_keys_do_not_leak(spark):
    left, right = _frames(spark)
    extra = right.union(
        spark.createDataFrame([(104, "zz", _ts(1.0), 9.9)], right.schema)
    )
    joined = asof_join(left, extra, "k", "ts", "rts", ("rid",))
    assert joined.filter(F.col("k") == "zz").count() == 0
    assert joined.count() == 3


# --- property: kernel vs an independent Python model ------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_row = st.tuples(
    st.integers(min_value=0, max_value=2),    # key
    st.integers(min_value=0, max_value=20),   # ts (seconds)
    st.integers(min_value=0, max_value=99),   # id / tiebreak
)


def _python_asof(left_rows, right_rows):
    """For each left row: among right rows with the same key and
    rts <= ts, the one with max (rts, rid) — None if there is none."""
    out = {}
    for k, lts, lid in left_rows:
        best = None
        for rk, rts, rid in right_rows:
            if rk == k and rts <= lts:
                cand = (rts, rid)
                if best is None or cand > best:
                    best = cand
        out[(k, lts, lid)] = best[1] if best is not None else None
    return out


@given(
    left=st.lists(_row, min_size=1, max_size=8, unique=True),
    right=st.lists(_row, min_size=0, max_size=8, unique=True),
)
@settings(max_examples=12, deadline=None)
def test_asof_matches_python_model(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, _ts(t), i) for k, t, i in left], "k long, ts timestamp, lid long"
    )
    rdf = spark.createDataFrame(
        [(k, _ts(t), i) for k, t, i in right], "k long, rts timestamp, rid long"
    )
    got = {
        (r["k"], int(r["ts"].timestamp() - _ts(0).timestamp()), r["lid"]): r["asof_rid"]
        for r in asof_join(
            ldf, rdf, "k", "ts", "rts", ("rid",), right_tiebreak="rid"
        ).collect()
    }
    assert got == _python_asof(left, right)


@settings(max_examples=10, deadline=None)
@given(
    e_offs=st.lists(
        st.integers(min_value=0, max_value=300), min_size=1, max_size=8
    ),
    v_offs=st.lists(
        st.integers(min_value=0, max_value=300), min_size=0, max_size=12
    ),
)
def test_range_join_binned_matches_model_on_bin_boundaries(spark, e_offs, v_offs):
    """Randomized second-offsets (bin width 60s, so offsets land on and
    around bin edges): the binned join must equal a python model of
    'views in [e_ts, e_ts + 60s)'. Catches the classic binning
    off-by-ones — a view in bin b+2, a window end exactly on an edge,
    matches straddling the bin boundary."""
    import datetime as dt

    from apache_flink_pratices_spark.operators.temporal import (
        RANGE_JOIN_SECONDS,
        range_join_binned,
    )

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i, off in enumerate(e_offs):
        rows.append((1000 + i, t0 + dt.timedelta(seconds=off), 1, "error", 0.0, "{}"))
    for i, off in enumerate(v_offs):
        rows.append((2000 + i, t0 + dt.timedelta(seconds=off), 1, "view", 1.0, "{}"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).write.parquet(f"{d}/events.parquet")
        got = {
            r["error_id"]: r["views_within_60s"]
            for r in range_join_binned(spark, d).collect()
        }
    want = {}
    for i, eoff in enumerate(e_offs):
        want[1000 + i] = sum(
            1 for voff in v_offs if eoff <= voff < eoff + RANGE_JOIN_SECONDS
        )
    assert got == want


def test_event_transitions_hand_case(spark, tmp_path):
    """Bigram transitions over two users' interleaved streams; ordering by
    (ts, event_id) with a same-timestamp pair resolved by event_id."""
    import datetime

    import pandas as pd

    from apache_flink_pratices_spark.operators.temporal import q_event_transitions

    t0 = datetime.datetime(2021, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # user 1: a -> b -> b
        (1, ts(0), 1, "a", 0.0, None),
        (2, ts(1), 1, "b", 0.0, None),
        (3, ts(2), 1, "b", 0.0, None),
        # user 2: c -> a (same ts, event_id breaks the tie), then -> b
        (10, ts(5), 2, "c", 0.0, None),
        (11, ts(5), 2, "a", 0.0, None),
        (12, ts(9), 2, "b", 0.0, None),
        # user 3: single event, no transition
        (20, ts(0), 3, "a", 0.0, None),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    got = {
        (r.event_type, r.next_type): r.n
        for r in q_event_transitions(spark, str(tmp_path)).collect()
    }
    assert got == {("a", "b"): 2, ("b", "b"): 1, ("c", "a"): 1}


def test_event_transitions_single_shuffle(spark):
    """One exchange on user_id feeds both the lead() window and (via the
    bounded K² matrix) the final aggregation's partial side."""
    from apache_flink_pratices_spark.operators.temporal import q_event_transitions
    from apache_flink_pratices_spark.plans.explain import formatted_plan
    from tests.plan_helpers import exchange_count

    plan = formatted_plan(q_event_transitions(spark, "/root/testdata/sf0.001"))
    # window shuffle + final-agg shuffle; no join anywhere
    assert "Join" not in plan, plan
    assert exchange_count(plan) <= 2, plan
