"""Plan audits for the OLAP plan-pattern operators (operators/olap.py):
every scale claim in the docstrings is asserted against the physical plan."""

from __future__ import annotations

import re

from apache_flink_pratices_spark.operators.olap import (
    q_event_type_pivot,
    q_grouping_sets_revenue,
    q_value_zscore_outliers,
    sketch_kmv_jaccard,
)
from apache_flink_pratices_spark.plans.explain import formatted_plan

from tests.plan_helpers import (
    exchange_count,
    join_kinds,
    scan_columns,
)

SF = "/root/testdata/sf0.001"


def _scan_count(plan: str) -> int:
    """Parquet scans, counted by operator-detail header (the tree section
    repeats the operator name, so a raw substring count double-counts)."""
    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def test_grouping_sets_is_one_scan_via_expand(spark):
    """Four groupings must come from ONE orders scan expanded 4x, not four
    scan+agg passes: exactly one Scan, an Expand node, and a single
    aggregation exchange."""
    plan = formatted_plan(q_grouping_sets_revenue(spark, SF))
    assert _scan_count(plan) == 1, plan
    assert "Expand" in plan, plan
    assert exchange_count(plan) == 1, plan
    # only the three referenced columns are read
    assert scan_columns(plan) == {"o_orderpriority", "o_orderstatus", "o_totalprice"}


def test_pivot_is_single_exchange_with_partial_agg(spark):
    """The explicit-domain pivot is one shuffle on user_id with map-side
    partial aggregation — no distinct-scan pre-job, no second exchange."""
    plan = formatted_plan(q_event_type_pivot(spark, SF))
    assert _scan_count(plan) == 1, plan
    assert exchange_count(plan) == 1, plan
    # partial aggregate below the exchange (two HashAggregate operators)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2, plan
    assert "partial_sum" in plan, plan
    assert scan_columns(plan) == {"user_id", "event_type", "value"}


def test_zscore_scoring_join_is_broadcast(spark):
    """The 5-row moment table must broadcast back to the corpus scan; the
    scoring pass itself moves no event rows through an exchange (the only
    non-broadcast exchange belongs to the stats aggregation)."""
    plan = formatted_plan(q_value_zscore_outliers(spark, SF))
    kinds = set(join_kinds(plan))
    assert kinds == {"BroadcastHashJoin"}, kinds
    # stats agg = 1 shuffle exchange; everything else is broadcast
    assert exchange_count(plan) == 1, plan


def test_kmv_jaccard_bottom_k_is_two_stage(spark):
    """Stage 1's heavy sort must fan out over the salt slices; only the
    bounded merge stage (≤ SALT·k rows) may run a global window."""
    plan = formatted_plan(sketch_kmv_jaccard(spark, SF))
    assert "salt" in plan, plan
    # membership flags reduce via hash aggregation, not sort aggregation
    assert "SortAggregate" not in plan, plan
    # no cartesian anywhere except the 1-row totals broadcast
    assert "CartesianProduct" not in plan, plan


def test_mad_hand_case(spark, tmp_path, monkeypatch):
    """MAD on a hand corpus: values per type chosen so median, MAD and the
    outlier flag are computable by eye (including the even-count lower-
    median tie rule both engines share)."""
    import pandas as pd

    from apache_flink_pratices_spark.operators.olap import q_group_mad_outliers

    # type 'a': values 1,2,3,4,100 -> med 3, devs {2,1,0,1,97} -> MAD 1,
    # outliers = devs > 3 -> only 97 -> 1 outlier
    # type 'b': values 10,10,10,10 -> med 10, MAD 0, outliers: dev > 0 -> 0
    rows = [("a", v) for v in (1.0, 2.0, 3.0, 4.0, 100.0)] + [
        ("b", 10.0)
    ] * 4
    pd.DataFrame(
        [(i, None, i, t, v, None) for i, (t, v) in enumerate(rows)],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(tmp_path / "events.parquet")
    out = {
        r.event_type: r
        for r in q_group_mad_outliers(spark, str(tmp_path)).collect()
    }
    assert out["a"].med_c == 300 and out["a"].mad_c == 100
    assert out["a"].n_outliers == 1 and out["a"].n_rows == 5
    assert out["b"].med_c == 1000 and out["b"].mad_c == 0
    assert out["b"].n_outliers == 0 and out["b"].n_rows == 4


def test_mad_single_corpus_scan(spark):
    """Everything after the (group, value, count) compression works on the
    persisted compressed table — live consumers read the cache (so the
    events parquet is scanned once at runtime), and the 5-row median/MAD
    tables come back as broadcasts only."""
    from apache_flink_pratices_spark.operators.olap import q_group_mad_outliers

    spark.catalog.clearCache()
    plan = formatted_plan(q_group_mad_outliers(spark, SF))
    assert "InMemoryTableScan" in plan
    kinds = set(join_kinds(plan))
    assert kinds <= {"BroadcastHashJoin"}, kinds


def test_range_bounds_partition_balance(spark):
    """Range-partitioning the FULL corpus by the sampled boundaries must
    give near-balanced buckets — the property the TeraSort planning step
    exists for. With a 5% sample and 8 buckets, allow each bucket within
    [0.4x, 1.9x] of ideal."""
    from pyspark.sql import functions as F

    from apache_flink_pratices_spark.io import load
    from apache_flink_pratices_spark.operators.olap import (
        RANGE_BUCKETS,
        q_range_partition_bounds,
    )

    bounds = sorted(
        (r.bucket, r.boundary)
        for r in q_range_partition_bounds(spark, SF).collect()
    )
    assert [b for b, _ in bounds] == list(range(1, RANGE_BUCKETS))
    vals = [v for _, v in bounds]
    assert vals == sorted(vals)
    o = load(spark, SF, "orders").select("o_totalprice")
    n = o.count()
    # bucket of each row = number of boundaries strictly below it
    expr = sum(
        (F.col("o_totalprice") > F.lit(v)).cast("int") for v in vals
    )
    sizes = [
        r.c
        for r in o.select(expr.alias("b")).groupBy("b").agg(
            F.count("*").alias("c")
        ).collect()
    ]
    ideal = n / RANGE_BUCKETS
    assert len(sizes) == RANGE_BUCKETS
    assert all(0.4 * ideal <= s <= 1.9 * ideal for s in sizes), sizes
