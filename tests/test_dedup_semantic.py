"""dedup_semantic (SemDeDup, round 9): kernel pins and semantics.

The within-cell cosine verify is a vectorized Arrow ``mapInPandas``
stage; like every vectorized kernel in this repo it must be BIT-EQUAL
to the DuckDB oracle — here the registered oracle's ``pairs`` stage,
the within-cell pairs at cosine >= SEM_DEDUP_TAU — float64
``floor(a·b·SCALE)`` products, exact int64 sums, double division and
sqrt are IEEE-identical across numpy and DuckDB.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.dedup import (
    SEM_DEDUP_TAU,
    _semantic_pair_cosine,
)

from tests.oracle_duck import duck, oracle_stage

SF = "/root/testdata/sf0.001"


def _pair_frame_from(spark, e):
    from apache_flink_pratices_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(e)
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), "cell",
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), "cell",
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "cell", "emb_a", "emb_b", "nrm_a", "nrm_b")
    )


def _kernel_and_oracle_pairs(spark, e):
    """(kernel, oracle): {(vec_a, vec_b): (cell, cosine)} of the pairs at
    cosine >= SEM_DEDUP_TAU — the kernel over the within-cell pair frame,
    filtered as dedup_semantic filters it, and the oracle's ``pairs``
    stage run by DuckDB over the same embeddings.

    The oracle emits no pair below the threshold, so every candidate
    pair's cosine is also pinned to the shipped expression form of the
    same arithmetic, ann_cosine_topk's verify (itself oracle-checked)."""
    from apache_flink_pratices_spark.operators.similarity import (
        _pair_cosine_scored_expr,
    )

    raw = _pair_frame_from(spark, e).persist()
    raw.count()
    scored = {
        (r.vec_a, r.vec_b): (r.cell, r.cosine)
        for r in _semantic_pair_cosine(raw).collect()
    }
    shipped = _pair_cosine_scored_expr(
        raw.select(
            F.col("vec_a").alias("query_id"),
            F.col("vec_b").alias("vec_id"),
            F.col("cell").alias("label"),
            F.col("emb_a").alias("q_embedding"),
            F.col("nrm_a").alias("q_nrm"),
            F.col("emb_b").alias("embedding"),
            F.col("nrm_b").alias("nrm"),
        )
    )
    assert scored == {
        (r.query_id, r.vec_id): (r.label, r.cosine) for r in shipped.collect()
    }
    raw.unpersist()
    vec = {k: v for k, v in scored.items() if v[1] >= SEM_DEDUP_TAU}
    con = duck(embeddings=e)
    exp = {
        (r["vec_a"], r["vec_b"]): (r["cell"], r["cosine"])
        for r in con.execute(oracle_stage("dedup_semantic", "pairs"))
        .fetch_arrow_table()
        .to_pylist()
    }
    con.close()
    return vec, exp


def test_vectorized_pair_cosine_matches_expression_twin(spark):
    from apache_flink_pratices_spark.io import load

    vec, exp = _kernel_and_oracle_pairs(spark, load(spark, SF, "embeddings"))
    assert len(vec) > 0
    assert vec == exp  # bit-equal doubles, every pair


def test_vectorized_pair_cosine_twin_on_adversarial_floats(spark):
    """Random embeddings with negative values, zeros, and near-boundary
    magnitudes — the float regime where a floor() disagreement between
    numpy and the JVM would surface."""
    rng = random.Random(20260815)
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
    vec, exp = _kernel_and_oracle_pairs(spark, e)
    assert len(vec) > 0 and vec == exp


def test_dedup_semantic_drop_rule(spark):
    """The dropped member of every pair must be the one NEARER its cell
    centroid by NORMALIZED similarity (the SemDeDup keep-the-outlier
    rule) — recomputed INDEPENDENTLY in numpy so an inverted F.when (or
    a raw-dot comparison, the review-r9 bug this pins) fails here even
    though the DuckDB oracle would mirror the same inversion."""
    import numpy as np

    from apache_flink_pratices_spark.registry import get_spec
    from apache_flink_pratices_spark.operators import dedup  # noqa: F401
    from apache_flink_pratices_spark.io import load
    from apache_flink_pratices_spark.operators.similarity import ivf_assign

    out = {
        r.vec_id: (r.cell, r.n_dups, r.max_cos)
        for r in get_spec("dedup_semantic").fn(spark, SF).collect()
    }
    assert len(out) > 0
    assert all(n >= 1 and c >= SEM_DEDUP_TAU for _, n, c in out.values())

    # independent reference: collect cells + embeddings, redo the whole
    # rule in float64 numpy (plain means/cosines — no scaled-int tricks,
    # so any shared-bug coupling with the production kernel is broken)
    rows = ivf_assign(load(spark, SF, "embeddings")).collect()
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    cell = {r.vec_id: r.cell for r in rows}
    cents = {}
    for c in set(cell.values()):
        vs = [emb[v] for v in emb if cell[v] == c]
        cents[c] = np.mean(vs, axis=0)

    def csim(v):
        return float(
            emb[v] @ cents[cell[v]] / np.linalg.norm(emb[v])
        )

    ids = sorted(emb)
    expect_drop = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if cell[a] != cell[b]:
                continue
            cos = float(
                emb[a] @ emb[b]
                / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b]))
            )
            # stay clear of the float boundary: the reference uses plain
            # numpy arithmetic, the kernel quantized products — identical
            # to ~1e-12, so only exact-boundary pairs could disagree
            if abs(cos - SEM_DEDUP_TAU) < 1e-9:
                continue
            if cos < SEM_DEDUP_TAU:
                continue
            ca, cb = csim(a), csim(b)
            if abs(ca - cb) < 1e-9:
                expect_drop.add(max(a, b))
            else:
                expect_drop.add(a if ca > cb else b)
    assert set(out) == expect_drop
