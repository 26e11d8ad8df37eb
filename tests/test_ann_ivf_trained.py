"""ann_ivf_trained_topk (VERDICT r12 #4): the trained, artifact-served
IVF codebook. Oracle equivalence (the WHOLE pipeline — seeding, Lloyd,
probe, verify — recomputed by DuckDB) is covered by
tests/test_oracle_parity.py; these pin the artifact contract, the
vectorized-kernel/expression-twin equality, the plan shape, and the
measured trained-vs-hash-grid recall ordering on clustered data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from apache_flink_pratices_spark.operators.similarity import (
    IVF_CELLS,
    IVF_KM_ITERS,
    IVF_NPROBE,
    N_QUERIES,
    TOP_K,
    _dot,
    _ivf_probe_verify,
    _ivf_sims,
    _query_frame,
    clustered_embeddings,
    ivf_assign,
    ivf_assign_trained,
    l2_cells_sorted,
    trained_ivf_centroids,
)

from tests.oracle_duck import duck, oracle_stage, rows_by

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
    the ann_ivf_trained_topk DuckDB oracle's own stages — cell ids
    (``assigned``, nearest of the centroids the oracle trains itself),
    exact nrm doubles (``norms``) — and pass the embedding through, on
    the real corpus and on clustered synthetic doubles (the licence for
    the vectorized corpus path). The kernel gets the centroids the
    engine trains on the same frame, as trained_ivf_centroids does."""
    from apache_flink_pratices_spark.operators.kmeans import kmeans_fit

    rng = np.random.RandomState(11)
    centers = rng.randn(6, 64)
    X = np.vstack([c + 0.3 * rng.randn(30, 64) for c in centers])
    synth = spark.createDataFrame(
        [(i, int(i // 30), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, label int, embedding array<double>",
    )
    real = spark.read.parquet(f"{SF}/embeddings.parquet")
    for frame in (synth, real):
        seeds, _ = kmeans_fit(frame, k=IVF_CELLS, max_iter=IVF_KM_ITERS)
        got = {
            r["vec_id"]: (r["cell"], r["nrm"], tuple(r["embedding"]))
            for r in ivf_assign_trained(frame, seeds).collect()
        }
        con = duck(embeddings=frame)
        cells = rows_by(
            con, oracle_stage("ann_ivf_trained_topk", "assigned"), "vec_id", "cell"
        )
        norms = rows_by(
            con, oracle_stage("ann_ivf_trained_topk", "norms"), "vec_id", "nrm"
        )
        con.close()
        ref = {
            r["vec_id"]: (
                cells[r["vec_id"]][0],
                norms[r["vec_id"]][0],
                tuple(float(x) for x in r["embedding"]),
            )
            for r in frame.collect()
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


def ann_ivf_trained_recall_bench(spark, sf_dir: str) -> dict:
    """Measured trained-vs-hash-grid IVF comparison on the planted-cluster
    corpus (the deployment regime): per-variant recall@10 vs brute force
    and candidate fraction, so the 'trained centroids beat the stand-in
    grid' claim is a measured, test-pinned number (VERDICT r12 #4)."""
    from pyspark.sql.window import Window

    # resolved at call time: a test replaces kmeans_fit to fail midway
    from apache_flink_pratices_spark.operators.kmeans import kmeans_fit

    # Every persisted frame registers here and is unpersisted in the
    # closing finally: an exception mid-measurement must not leak
    # MEMORY_AND_DISK frames for the rest of the calling session
    # (ADVICE r13).
    persisted: list[DataFrame] = []

    def _persist(frame: DataFrame) -> DataFrame:
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(frame)
        return frame

    try:
        vectors = _persist(clustered_embeddings(spark, sf_dir))
        n = vectors.count()

        # brute-force ground truth: 5 broadcast queries x corpus
        base = vectors.select(
            "vec_id",
            "embedding",
            _dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
        )
        qf = base.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
        )
        scored = (
            base.crossJoin(F.broadcast(qf))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                (
                    _dot(F.col("qe"), F.col("embedding"))
                    / (F.sqrt("qn") * F.sqrt("nrm"))
                ).alias("cos"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
        truth: dict[int, set[int]] = {}
        for r in (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .collect()
        ):
            truth.setdefault(r["query_id"], set()).add(r["vec_id"])

        def recall_of(frame: DataFrame) -> float:
            got: dict[int, set[int]] = {}
            for r in frame.select("query_id", "vec_id").collect():
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            return sum(
                len(got.get(qid, set()) & t) / len(t) for qid, t in truth.items()
            ) / len(truth)

        def fraction_of(assigned: DataFrame, probes: DataFrame) -> float:
            cand = (
                assigned.select("vec_id", "cell")
                .join(F.broadcast(probes), "cell")
                .filter(F.col("vec_id") != F.col("query_id"))
            )
            return cand.count() / float(N_QUERIES * (n - 1))

        # trained variant (live fit on the derived corpus — the artifact is
        # keyed to raw tables, and this measurement IS the training story)
        seeds, _hist = kmeans_fit(vectors, k=IVF_CELLS, max_iter=IVF_KM_ITERS)
        t_probes = vectors.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.transform(
                    F.slice(l2_cells_sorted(seeds), 1, IVF_NPROBE),
                    lambda s: s["cell"].cast("int"),
                )
            ).alias("cell"),
        )
        t_assigned = _persist(ivf_assign_trained(vectors, seeds))
        qframe = _query_frame(vectors, N_QUERIES)
        trained = {
            "recall": round(
                recall_of(_ivf_probe_verify(t_assigned, t_probes, qframe, TOP_K)),
                4,
            ),
            "candidate_fraction": round(fraction_of(t_assigned, t_probes), 4),
        }

        # hash-grid variant (the round-7 stand-in directions)
        h_assigned = _persist(ivf_assign(vectors))
        h_probes = vectors.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.transform(
                    F.slice(_ivf_sims(), 1, IVF_NPROBE), lambda s: s["cell"]
                )
            ).alias("cell"),
        )
        hash_grid = {
            "recall": round(
                recall_of(_ivf_probe_verify(h_assigned, h_probes, qframe, TOP_K)),
                4,
            ),
            "candidate_fraction": round(fraction_of(h_assigned, h_probes), 4),
        }
        return {"trained": trained, "hash_grid": hash_grid}
    finally:
        for f in persisted:
            f.unpersist()


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
