"""ann_ivf_trained_topk (VERDICT r12 #4): the trained, artifact-served
IVF codebook. Oracle equivalence (the WHOLE pipeline — seeding, Lloyd,
probe, verify — recomputed by DuckDB) is covered by
tests/test_oracle_parity.py; these pin the artifact contract, the
vectorized-kernel/expression-twin equality, the plan shape, and the
measured trained-vs-hash-grid recall ordering on clustered data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.similarity import (
    IVF_CELLS,
    IVF_KM_ITERS,
    ann_ivf_trained_recall_bench,
    ivf_assign_trained,
    ivf_assign_trained_expr,
    trained_ivf_centroids,
)

SF = "/root/testdata/sf0.001"


def test_centroid_artifact_served_not_rebuilt(spark, tmp_path, monkeypatch):
    """First call trains and publishes; the second call must READ the
    artifact (a rebuild would scan the embeddings table again) and
    return identical centroids. The spy wraps similarity.load rather
    than kmeans_fit: kmeans_fit's SOURCE is part of the artifact key
    (the mechanical version), so monkeypatching it would change the key
    and force a rebuild by design."""
    import apache_flink_pratices_spark.operators.similarity as sim

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    first = trained_ivf_centroids(spark, SF)
    assert len(first) == IVF_CELLS
    assert all(isinstance(v, int) for row in first for v in row)

    calls = []
    real_load = sim.load
    monkeypatch.setattr(
        sim, "load", lambda *a, **k: calls.append(1) or real_load(*a, **k)
    )
    again = trained_ivf_centroids(spark, SF)
    assert again == first
    assert calls == []
    # ... and a corrupt artifact is a cache miss that rebuilds, not a crash
    import glob
    import os

    art = glob.glob(os.path.join(str(tmp_path), "ivf_centroids_*.json"))
    assert len(art) == 1
    with open(art[0], "w") as f:
        f.write("{not json")
    rebuilt = trained_ivf_centroids(spark, SF)
    assert rebuilt == first
    assert calls == [1]  # exactly one corpus scan: the rebuild


def test_vectorized_assign_matches_expression_twin(spark):
    """ivf_assign_trained (numpy mapInPandas) must be BIT-identical to
    the higher-order-function reference — cell ids, exact nrm doubles,
    pass-through embeddings — on the real corpus and on clustered
    synthetic doubles (the licence for the vectorized corpus path)."""
    rng = np.random.RandomState(11)
    centers = rng.randn(6, 64)
    X = np.vstack([c + 0.3 * rng.randn(30, 64) for c in centers])
    synth = spark.createDataFrame(
        [(i, int(i // 30), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, label int, embedding array<double>",
    )
    real = spark.read.parquet(f"{SF}/embeddings.parquet")
    for frame in (synth, real):
        seeds = [
            [int(v) for v in row["qe"]]
            for row in frame.select(
                F.expr(
                    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
                ).alias("qe")
            )
            .limit(IVF_CELLS)
            .collect()
        ]
        got = {
            r["vec_id"]: (r["cell"], r["nrm"], tuple(r["embedding"]))
            for r in ivf_assign_trained(frame, seeds).collect()
        }
        ref = {
            r["vec_id"]: (r["cell"], r["nrm"], tuple(float(x) for x in r["embedding"]))
            for r in ivf_assign_trained_expr(frame, seeds).collect()
        }
        assert got == ref and len(got) == frame.count()


def test_plan_one_kernel_broadcast_probes_no_products(spark, tmp_path, monkeypatch):
    import re

    from apache_flink_pratices_spark.registry import all_specs

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    df = all_specs()["ann_ivf_trained_topk"].fn(spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # exactly TWO Arrow kernels since r14: the corpus cell assignment and
    # the vectorized candidate verify (_pair_cosine_scored) — the corpus
    # assignment must still appear exactly once (no duplicated subtree)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_trained_beats_hash_grid_on_clustered_corpus(spark):
    """The point of training: on the planted-cluster corpus the k-means
    codebook's recall must be at least the hash-grid stand-in's, at a
    candidate fraction that still prunes (< 0.75 of brute force)."""
    out = ann_ivf_trained_recall_bench(spark, SF)
    assert out["trained"]["recall"] >= out["hash_grid"]["recall"]
    assert out["trained"]["recall"] >= 0.9
    assert 0 < out["trained"]["candidate_fraction"] < 0.75
    assert 0 < out["hash_grid"]["candidate_fraction"] <= 1.0


def test_recall_bench_unpersists_on_midway_failure(spark, monkeypatch):
    """ADVICE r13: an exception mid-measurement must not leak the
    MEMORY_AND_DISK frames for the rest of the calling session — every
    persisted frame is released by the closing finally."""
    import apache_flink_pratices_spark.operators.kmeans as km

    def boom(*a, **k):
        raise RuntimeError("planted mid-measurement failure")

    monkeypatch.setattr(km, "kmeans_fit", boom)
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(RuntimeError, match="planted"):
        ann_ivf_trained_recall_bench(spark, SF)
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after) == len(before), (
        f"leaked persisted frames: {len(before)} -> {len(after)}"
    )


def test_registered_query_shape(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    from apache_flink_pratices_spark.registry import all_specs

    rows = all_specs()["ann_ivf_trained_topk"].fn(spark, SF).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert sorted(r["rn"] for r in rs) == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["vec_id"] != qid for r in rs)
    if len(by_q) == 0:
        pytest.fail("trained IVF returned no rows at all")
