"""k-means loop: deterministic seeding + Lloyd convergence."""

from __future__ import annotations

from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.operators.kmeans import (
    KMEANS_K,
    assign_frame,
    kmeans_fit,
    seed_farthest_point,
)

from tests.conftest import SF_SMOKE
from tests.oracle_duck import duck, rows_by


def test_farthest_point_seeds_distinct_and_deterministic(spark):
    vectors = load(spark, SF_SMOKE, "embeddings")
    seeds1 = seed_farthest_point(vectors, 4)
    seeds2 = seed_farthest_point(vectors, 4)
    assert seeds1 == seeds2
    assert len(seeds1) == 4
    # farthest-point traversal can never pick the same vector twice
    assert len({tuple(s) for s in seeds1}) == 4


def test_lloyd_inertia_non_increasing(spark):
    vectors = load(spark, SF_SMOKE, "embeddings")
    seeds, history = kmeans_fit(vectors, KMEANS_K, max_iter=4)
    assert len(history) >= 2, "loop must actually iterate"
    for a, b in zip(history, history[1:]):
        assert b <= a, f"inertia increased: {history}"
    # the fitted centroids still assign every vector
    n = assign_frame(vectors, seeds).count()
    assert n == vectors.count()
    # every cluster id in range
    clusters = {r["cluster"] for r in assign_frame(vectors, seeds).select("cluster").distinct().collect()}
    assert clusters <= set(range(KMEANS_K))


def test_vectorized_assign_matches_expression_twin(spark):
    """assign_frame (numpy mapInPandas) must be BIT-identical to the
    kmeans_assign DuckDB oracle on the real corpus at two scale factors —
    cluster ids, exact int64 dist2 — (round 7: the K x dim distance pass
    moved off interpreted HOF lambdas; this pin licenses the move)."""
    from apache_flink_pratices_spark.operators.kmeans import _seed_arrays
    from apache_flink_pratices_spark.registry import all_specs

    oracle = all_specs()["kmeans_assign"].oracle
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        vectors = load(spark, sf, "embeddings")
        seeds = _seed_arrays(spark, sf)
        vec = {
            r["vec_id"]: (r["cluster"], r["dist2"])
            for r in assign_frame(vectors, seeds).collect()
        }
        con = duck(sf)
        ref = rows_by(con, oracle, "vec_id", "cluster", "dist2")
        con.close()
        assert vec == ref and len(vec) == vectors.count()
