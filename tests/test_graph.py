"""Unit tests for the scaled-integer PageRank kernel (operators/graph.py).

Cross-engine value parity is covered by test_oracle_parity; these pin the
recurrence itself on hand-computable graphs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.graph import (
    PR_BASE,
    PR_SCALE,
    _pr_step,
    pagerank_neardup,
)
from apache_flink_pratices_spark.plans.explain import formatted_plan

SF = "/root/testdata/sf0.001"


def _frames(spark, edges):
    """(nodes, degree-annotated edge list) for an undirected edge set."""
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges], "src long, dst long"
    )
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    ej = e.join(deg, "src").select("src", "dst", "deg")
    ids = sorted({x for ab in edges for x in ab})
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    return nodes, ej


def _run(spark, edges, iters):
    nodes, ej = _frames(spark, edges)
    ranks = nodes.select("doc_id", F.lit(PR_SCALE).cast("long").alias("rank"))
    for _ in range(iters):
        ranks = _pr_step(ej, ranks)
    return {r.doc_id: r.rank for r in ranks.collect()}


def test_regular_graph_is_a_fixpoint(spark):
    """On a 1-regular graph every node keeps rank = SCALE exactly:
    S = SCALE, and BASE + 17·(SCALE div 20) = SCALE (0.15 + 0.85)."""
    ranks = _run(spark, [(1, 2), (3, 4)], iters=3)
    assert ranks == {1: PR_SCALE, 2: PR_SCALE, 3: PR_SCALE, 4: PR_SCALE}


def test_star_center_dominates_and_leaves_tie(spark):
    """K1,3 after one round, by hand: center gets all three leaf masses
    (S = 3·SCALE); each leaf gets a third of the center's."""
    ranks = _run(spark, [(0, 1), (0, 2), (0, 3)], iters=1)
    assert ranks[0] == PR_BASE + 17 * ((3 * PR_SCALE) // 20)
    leaf = PR_BASE + 17 * ((PR_SCALE // 3) // 20)
    assert ranks[1] == ranks[2] == ranks[3] == leaf
    assert ranks[0] > ranks[1]


def test_star_ordering_survives_more_rounds(spark):
    ranks = _run(spark, [(0, 1), (0, 2), (0, 3)], iters=3)
    assert ranks[0] > ranks[1] == ranks[2] == ranks[3]
    # mass is bounded by the invariant the module documents
    assert all(0 < r < 4 * PR_SCALE for r in ranks.values())


def test_pagerank_plan_reads_artifact_not_pipeline(spark):
    """VERDICT r5 #2: the graph query must bench the ITERATION, not the
    fingerprint pipeline. The edge set comes off the materialized pair
    artifact, so (a) the 64-term simhash sign-sum aggregate must not
    appear ANYWHERE in the plan — not even inside cache-build subtrees —
    and (b) the degree-annotated edge list is persisted so each round
    scans the in-memory relation."""
    import re

    # hermetic cache state: earlier tests may have registered/materialized
    # overlapping persists, which shifts how many build subtrees EXPLAIN
    # prints and made this test order-dependent
    spark.catalog.clearCache()
    df = pagerank_neardup(spark, SF)
    plan = formatted_plan(df)
    # every iteration (and the output-degree join) reads the cache
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 4, plan
    # the fingerprint pipeline executes ONLY inside the artifact build
    # (a separate, write-once job) — never in the graph query's plan
    assert plan.count("Functions [64]") == 0, plan.count("Functions [64]")
    # the plan can only contain the artifact PATH (default tmpdir name, or
    # the value of $SPARK_GRAFT_ARTIFACT_DIR when the user overrode it)
    art_dir = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    assert "afp_neardup_pairs" in plan or (art_dir and art_dir in plan), (
        "edge scan should read the materialized pair artifact"
    )


def test_candidate_artifact_matches_live_pipeline(spark):
    """The materialized artifact must contain exactly the live pipeline's
    rows: unfiltered candidates ⊇ verified, and the verified subset equals
    dedup_simhash row-for-row (the driver's hash gate depends on it)."""
    from apache_flink_pratices_spark.operators.dedup import (
        SIMHASH_HAMMING_MAX,
        dedup_simhash,
        simhash_candidate_pairs,
        simhash_verified_pairs,
    )

    spark.catalog.clearCache()
    live = {(r.doc_a, r.doc_b, r.hamming) for r in dedup_simhash(spark, SF).collect()}
    stored = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_verified_pairs(spark, SF).collect()
    }
    assert stored == live
    allc = simhash_candidate_pairs(spark, SF)
    assert allc.count() >= len(live)
    assert allc.filter(F.col("hamming") > SIMHASH_HAMMING_MAX).count() == allc.count() - len(live)


def _tri_kernel(spark, edges):
    """Run the orientation+wedge kernel on an explicit canonical edge set
    (mirrors triangle_count_neardup past the candidate build)."""
    from apache_flink_pratices_spark.operators import graph as G

    canon = spark.createDataFrame(edges, "u long, v long")
    both = canon.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
                F.struct(F.col("v").alias("x"), F.col("u").alias("y")),
            )
        ).alias("e")
    ).select("e.x", "e.y")
    deg = both.groupBy("x").agg(F.count("*").cast("long").alias("d"))
    da = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        canon.join(da, "u")
        .join(db, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    e1 = oriented.select(F.col("a"), F.col("b").alias("y"))
    e2 = oriented.select(F.col("a"), F.col("b").alias("z"))
    wedges = e1.join(e2, "a").filter(F.col("z") > F.col("y"))
    closing = oriented.select(F.col("a").alias("y"), F.col("b").alias("z")).union(
        oriented.select(F.col("b").alias("y"), F.col("a").alias("z"))
    )
    tri = wedges.join(closing, ["y", "z"])
    member = tri.select(
        F.explode(F.array(F.col("a"), F.col("y"), F.col("z"))).alias("doc_id")
    )
    out = member.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    return {r.doc_id: r.n for r in out.collect()}


def test_triangle_kernel_on_k4(spark):
    """K4: every vertex sits in C(3,2) = 3 triangles, 4 triangles total."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    counts = _tri_kernel(spark, k4)
    assert counts == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_kernel_on_triangle_plus_tail(spark):
    """A 3-cycle with a pendant edge: only the cycle vertices count."""
    counts = _tri_kernel(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    assert counts == {0: 1, 1: 1, 2: 1}


def test_triangle_kernel_path_has_none(spark):
    assert _tri_kernel(spark, [(0, 1), (1, 2), (2, 3)]) == {}


def test_triangle_plan_has_no_cartesian_and_caches_oriented(spark):
    from apache_flink_pratices_spark.operators.graph import triangle_count_neardup
    from apache_flink_pratices_spark.plans.explain import formatted_plan
    from tests.plan_helpers import join_kinds

    plan = formatted_plan(triangle_count_neardup(spark, SF))
    assert "CartesianProduct" not in join_kinds(plan), join_kinds(plan)
    # the oriented edge list is persisted and re-read from cache for all
    # three joins; its build is a scan of the materialized pair artifact,
    # so the fingerprint aggregate never appears
    assert "InMemoryTableScan" in plan
    assert plan.count("Functions [64]") == 0, plan.count("Functions [64]")
