"""Bucketed ANN properties:

1. recall of the registered LSH query vs the brute-force query ≥ 0.9 on
   the driver's (isotropic) embeddings;
2. on clustered embeddings — where ANN is actually deployed — the same
   operator with production-sized bands achieves recall ≥ 0.9 while
   generating < 20% of pairs as candidates (real pruning).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.similarity import (
    N_QUERIES,
    _signature_bands,
    ann_cosine_topk,
    ann_lsh_frame,
    ann_lsh_topk,
)

SF = "/root/testdata/sf0.01"


def _topk_sets(rows):
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.vec_id)
    return out


def test_recall_vs_brute_force(spark):
    brute = _topk_sets(ann_cosine_topk(spark, SF).collect())
    lsh = _topk_sets(ann_lsh_topk(spark, SF).collect())
    recalls = [
        len(brute[q] & lsh.get(q, set())) / len(brute[q]) for q in brute
    ]
    assert sum(recalls) / len(recalls) >= 0.9, f"mean recall {recalls}"


@pytest.fixture(scope="module")
def clustered(spark):
    """10 clusters × 40 vectors, noise 0.2 — same-cluster cosine ≈ 0.96."""
    rng = np.random.RandomState(42)
    centers = rng.randn(10, 64)
    X = np.vstack([c + 0.2 * rng.randn(40, 64) for c in centers])
    rows = [
        (i, int(i // 40), [float(x) for x in X[i]]) for i in range(len(X))
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    # ground truth from the same float32-rounded vectors Spark sees
    Xf = np.array([r[2] for r in rows], dtype=np.float32).astype(np.float64)
    Xn = Xf / np.linalg.norm(Xf, axis=1, keepdims=True)
    sims = Xn[:N_QUERIES] @ Xn.T
    for i in range(N_QUERIES):
        sims[i, i] = -2
    true_top = np.argsort(-sims, axis=1)[:, :10]
    return df, true_top


def test_clustered_data_prunes(spark, clustered):
    df, true_top = clustered
    n = df.count()
    bits, band = 32, 8

    cand = (
        _signature_bands(df, bits, band, 64)
        .alias("e")
        .join(
            _signature_bands(df.filter(F.col("vec_id") < N_QUERIES), bits, band, 64)
            .select(
                F.col("vec_id").alias("query_id"), "band", "bucket"
            )
            .alias("q"),
            ["band", "bucket"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    frac = cand.count() / (N_QUERIES * (n - 1))
    assert frac < 0.2, f"candidate fraction {frac:.3f} — no pruning"

    got = _topk_sets(
        ann_lsh_frame(df, bits=bits, band_size=band, top_k=10).collect()
    )
    recalls = [
        np.isin(true_top[q], sorted(got.get(q, set()))).mean()
        for q in range(N_QUERIES)
    ]
    assert float(np.mean(recalls)) >= 0.9, f"clustered recall {recalls}"


def test_signs_derivation_matches_sql(spark):
    """The ±1 hyperplane entries must match the oracle's md5 derivation."""
    from apache_flink_pratices_spark.operators.similarity import rh_signs

    signs = rh_signs(4, 8)
    row = spark.sql(
        "SELECT conv(substr(md5('afp-rh-2-3'), 1, 2), 16, 10) % 2 AS m"
    ).collect()[0]
    expected = 1.0 if int(row.m) == 0 else -1.0
    assert signs[2][2] == expected  # k is 1-based → index 2 is k=3


def test_planted_cluster_query_recall_and_pruning(spark):
    """The REGISTERED clustered variant (ann_lsh_topk_clustered) must
    prune hard and stay near-exact at sf0.01 (VERDICT r6 #5): candidate
    fraction < 0.2, recall vs brute force on the same corpus >= 0.95."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from apache_flink_pratices_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        _dot,
        ann_lsh_clustered_candidate_fraction,
        ann_lsh_topk_clustered,
        clustered_embeddings,
    )

    sf = "/root/testdata/sf0.01"
    frac = ann_lsh_clustered_candidate_fraction(spark, sf)
    assert 0 < frac < 0.2, frac

    cl = clustered_embeddings(spark, sf)
    wn = cl.select(
        "vec_id", "embedding", _dot(F.col("embedding"), F.col("embedding")).alias("nrm")
    )
    q = wn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    scored = wn.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("qe"), F.col("embedding"))
            / (F.sqrt(F.col("qn")) * F.sqrt(F.col("nrm")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    brute = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    )
    bset = {(r.query_id, r.vec_id) for r in brute.collect()}
    lset = {
        (r.query_id, r.vec_id) for r in ann_lsh_topk_clustered(spark, sf).collect()
    }
    assert len(bset & lset) / len(bset) >= 0.95, sorted(bset - lset)


def test_planted_clusters_are_separated(spark):
    """Sanity on the corpus construction: same-cluster cosine must
    dominate cross-cluster (the planted structure the pruning relies on)."""
    import hashlib

    import numpy as np

    from apache_flink_pratices_spark.operators.similarity import (
        CLU_N,
        clustered_embeddings,
    )

    rows = clustered_embeddings(spark, "/root/testdata/sf0.001").collect()

    def cluster_of(vec_id: int) -> int:
        return (
            int(hashlib.md5(str(vec_id).encode()).hexdigest()[:14], 16) % CLU_N
        )

    vecs = {r.vec_id: np.array(r.embedding) for r in rows}
    same, cross = [], []
    ids = sorted(vecs)
    for i in ids[:20]:
        for j in ids:
            if j <= i:
                continue
            cos = float(
                vecs[i] @ vecs[j]
                / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j]))
            )
            (same if cluster_of(i) == cluster_of(j) else cross).append(cos)
    assert same and cross
    assert np.mean(same) > 0.6 > np.mean(cross) + 0.3


# --- r14: vectorized query-verify kernel pinned to its expression twin ------


def _scored_pair_frame(spark, e):
    """Candidate-shaped pair frame: every (query, corpus) combination with
    both embeddings and norms attached — the input surface of
    _pair_cosine_scored."""
    from apache_flink_pratices_spark.operators.similarity import (
        _dot,
        _query_frame,
    )

    with_norm = e.select(
        "vec_id",
        "label",
        "embedding",
        _dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
    )
    q = _query_frame(e, N_QUERIES)
    return with_norm.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )


def test_vectorized_query_cosine_matches_expression_twin(spark):
    """_pair_cosine_scored (numpy kernel) must be bit-equal to the HOF
    expression twin on the real corpus — same pin as the dedup_semantic
    pair kernel (the r14 ANN verifies all route through this kernel)."""
    from apache_flink_pratices_spark.io import load
    from apache_flink_pratices_spark.operators.similarity import (
        _pair_cosine_scored,
        _pair_cosine_scored_expr,
    )

    raw = _scored_pair_frame(spark, load(spark, SF, "embeddings")).persist()
    raw.count()
    vec = {
        (r.query_id, r.vec_id): (r.label, r.cosine)
        for r in _pair_cosine_scored(raw).collect()
    }
    exp = {
        (r.query_id, r.vec_id): (r.label, r.cosine)
        for r in _pair_cosine_scored_expr(raw).collect()
    }
    raw.unpersist()
    assert len(vec) > 0
    assert vec == exp  # bit-equal doubles, every pair


def test_vectorized_query_cosine_twin_on_adversarial_floats(spark):
    """Zeros, negatives and near-boundary magnitudes — the regime where a
    numpy-vs-JVM floor() disagreement would surface."""
    import random

    from apache_flink_pratices_spark.operators.similarity import (
        _pair_cosine_scored,
        _pair_cosine_scored_expr,
    )

    rng = random.Random(20260817)
    rows = []
    for i in range(60):
        emb = [
            rng.choice([0.0, rng.uniform(-1, 1), rng.uniform(-1e-6, 1e-6)])
            for _ in range(64)
        ]
        rows.append((i, [float(f"{x:.6g}") for x in emb], i % 3))
    e = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    raw = _scored_pair_frame(spark, e).persist()
    raw.count()
    vec = {
        (r.query_id, r.vec_id): r.cosine
        for r in _pair_cosine_scored(raw).collect()
    }
    exp = {
        (r.query_id, r.vec_id): r.cosine
        for r in _pair_cosine_scored_expr(raw).collect()
    }
    raw.unpersist()
    assert len(vec) > 0 and vec == exp
