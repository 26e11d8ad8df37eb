"""Plan audits for the subquery/decorrelation family: the scale claims in
``operators/subqueries.py`` docstrings, asserted against physical plans."""

from __future__ import annotations

from apache_flink_pratices_spark.operators.subqueries import (
    q11_part_value_share,
    q13_order_distribution,
    q17_small_quantity_revenue,
    q18_large_volume_customers,
    q21_late_sole_supplier,
    q22_dormant_balance,
)
from apache_flink_pratices_spark.plans.explain import formatted_plan

from tests.plan_helpers import join_kinds, pushed_filters

SF = "/root/testdata/sf0.001"


def test_q17_correlated_subquery_decorrelates(spark):
    """The per-part average must become an aggregate + join, not a per-row
    re-executed subquery: exactly one scalar-subquery-free physical plan
    with a join on the correlation key."""
    plan = formatted_plan(q17_small_quantity_revenue(spark, SF))
    # decorrelated: no per-row subquery node survives in the physical plan
    assert "Subquery" not in plan or "SubqueryBroadcast" in plan, plan
    kinds = join_kinds(plan)
    assert any("HashJoin" in k for k in kinds), kinds


def test_q18_topn_not_global_sort(spark):
    plan = formatted_plan(q18_large_volume_customers(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    # the HAVING set reaches the fact table as a left-semi join
    assert "LeftSemi" in plan, join_kinds(plan)


def test_q21_semi_anti_chain(spark):
    plan = formatted_plan(q21_late_sole_supplier(spark, SF))
    kinds = " ".join(join_kinds(plan))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    # supplier names arrive via broadcast, not shuffle
    assert "BroadcastHashJoin" in kinds, kinds


def test_q22_scalar_is_broadcast_not_collected(spark):
    plan = formatted_plan(q22_dormant_balance(spark, SF))
    # the 1-row threshold joins via a broadcast nested loop — the sanctioned
    # plan for an uncorrelated scalar; the anti-join prunes orders first
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "LeftAnti" in plan, plan
    pushed = " ".join(pushed_filters(plan))
    assert "o_orderdate" in pushed, pushed


def test_q11_single_fact_scan(spark):
    """The global total must re-aggregate the cached per-part partials, not
    rescan lineitem: both consumers read the InMemory partials."""
    df = q11_part_value_share(spark, SF)
    try:
        plan = formatted_plan(df)
        assert "InMemoryTableScan" in plan, plan
        assert plan.count("lineitem.parquet") == 1, plan
    finally:
        spark.catalog.clearCache()


def test_q13_outer_join_preserves_all_customers(spark):
    """LEFT join semantics: every customer lands in exactly one bucket of
    the distribution (a customer with no qualifying orders still counts,
    at c_count=0)."""
    df = q13_order_distribution(spark, SF)
    total = sum(r["custdist"] for r in df.collect())
    from apache_flink_pratices_spark.io import load

    assert total == load(spark, SF, "customer").count()


def test_q2_correlated_min_broadcast_dims_single_fact_agg(spark):
    """q2's correlated MIN must be a per-part aggregate equi-joined back
    (no per-row subquery), with the dim chain attached via broadcast and
    exactly one lineitem aggregation feeding both sides (persisted euro)."""
    from apache_flink_pratices_spark.operators.subqueries import q2_min_cost_supplier

    df = q2_min_cost_supplier(spark, SF)
    try:
        plan = formatted_plan(df)
        # the only Subquery nodes allowed are runtime bloom filters
        # (might_contain) Spark injects to prune the cached euro scan —
        # a per-row correlated subquery would be a correctness bug
        import re

        main = plan.split("===== Subqueries =====")[0]
        for m in re.finditer(r"\bSubquery\b", main):
            ctx = main[max(0, m.start() - 120) : m.start()]
            assert "might_contain" in ctx, plan
        # and the hosted subqueries themselves are bloom-filter builds
        tail = plan.split("===== Subqueries =====")
        if len(tail) > 1:
            assert "bloom_filter_agg" in tail[1], plan
        kinds = " ".join(join_kinds(plan))
        assert "BroadcastHashJoin" in kinds, kinds
        # the min-vs-offer match is an equi-join on (partkey, cost), not a
        # nested-loop over offers
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        # one lineitem scan feeds the persisted euro relation, which both
        # the per-part MIN and the final match read from cache
        assert plan.count("lineitem.parquet") == 1, plan
        assert plan.count("InMemoryTableScan") >= 2, plan
    finally:
        df.sparkSession.catalog.clearCache()
