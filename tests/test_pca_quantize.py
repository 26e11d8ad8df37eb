"""Embedding PCA power iteration + int8 quantization: plan-level scale
claims and algorithmic properties (oracle parity runs in
test_oracle_parity for both registered queries)."""

from __future__ import annotations

import math
import re

import numpy as np

from apache_flink_pratices_spark.operators.pca import DIMS, _power_step, pca_fit
from apache_flink_pratices_spark.operators.quantization import (
    BINS,
    ERR_SCALE,
    embedding_int8_quantize,
)
from apache_flink_pratices_spark.plans.explain import formatted_plan

from tests.oracle_duck import duck, oracle_stage, rows_by
from tests.plan_helpers import exchange_count, join_kinds

SF = "/root/testdata/sf0.001"


def test_power_step_is_one_scan_one_bounded_shuffle(spark):
    """The iteration pass must be map-only up to the 64-group
    aggregation: one parquet scan, one exchange, no joins."""
    from apache_flink_pratices_spark.io import load

    plan = formatted_plan(_power_step(load(spark, SF, "embeddings"), [1] * DIMS))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not join_kinds(plan)
    # partial agg -> exchange -> final agg (AQE may add a post-shuffle
    # coalesce but never a second shuffle)
    assert exchange_count(plan) == 1, plan


def test_quantize_pass2_is_map_only_no_joins(spark):
    """Pass 2 inlines the stats literals: the N×64 element stream must
    never go through a join (the scale point vs a stats-join plan)."""
    plan = formatted_plan(embedding_int8_quantize(spark, SF))
    assert not join_kinds(plan), plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_quantize_codes_and_errors_within_bounds(spark):
    rows = embedding_int8_quantize(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 <= r["code_dim0"] <= BINS - 1
        assert 0 <= r["code_sum"] <= (BINS - 1) * DIMS
        assert r["max_err_1e8"] >= 0


def test_quantize_error_bounded_by_half_bin(spark):
    """Bin-center reconstruction error is ≤ range/(2·BINS) per dim (+1
    grid ulp for the floor)."""
    from pyspark.sql import functions as F

    from apache_flink_pratices_spark.io import load

    stats = (
        load(spark, SF, "embeddings")
        .select(
            F.posexplode(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            ).alias("k0", "x")
        )
        .groupBy("k0")
        .agg((F.max("x") - F.min("x")).alias("rng"))
        .collect()
    )
    worst_rng = max(r["rng"] for r in stats)
    bound = math.floor(worst_rng / (2 * BINS) * ERR_SCALE) + 1
    got = embedding_int8_quantize(spark, SF).agg(
        {"max_err_1e8": "max"}
    ).collect()[0][0]
    assert got <= bound, (got, bound)


def test_pca_fit_rayleigh_nondecreasing(spark):
    from apache_flink_pratices_spark.io import load

    _, hist = pca_fit(load(spark, SF, "embeddings"), max_iter=5)
    assert len(hist) >= 2
    for a, b in zip(hist, hist[1:]):
        assert b >= a * (1 - 1e-9), hist


def test_pca_fit_recovers_planted_direction(spark):
    """On a synthetic corpus with one dominant variance direction, the
    loop must recover it (up to sign) within a few iterations."""
    rng = np.random.default_rng(7)
    direction = rng.normal(size=DIMS)
    direction /= np.linalg.norm(direction)
    data = [
        (
            i,
            (
                float(rng.normal(0, 3.0)) * direction
                + rng.normal(0, 0.05, size=DIMS)
            ).astype("float32").tolist(),
            0,
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        data, "vec_id bigint, embedding array<float>, label int"
    )
    v, _ = pca_fit(df, max_iter=10)
    cos = abs(float(np.dot(np.array(v), direction)))
    assert cos > 0.99, cos


def test_pq_recall_vs_exact_tier(spark):
    """int8 reconstruction barely moves cosines at 64 dims / 256 bins:
    the compressed tier must agree with the exact tier on ≥90% of each
    query's top-10."""
    from apache_flink_pratices_spark.operators.quantization import ann_pq_topk
    from apache_flink_pratices_spark.operators.similarity import (
        ann_cosine_topk,
    )

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = topsets(ann_cosine_topk(spark, SF))
    pq = topsets(ann_pq_topk(spark, SF))
    recalls = [len(exact[q] & pq[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_pq_corpus_side_never_shuffles_before_rank(spark):
    """Queries broadcast against the code-reconstructed corpus: the only
    join is a broadcast nested-loop (non-equi self-pair), no sort-merge
    join or cartesian product."""
    from apache_flink_pratices_spark.operators.quantization import ann_pq_topk

    plan = formatted_plan(ann_pq_topk(spark, SF))
    kinds = join_kinds(plan)
    assert "BroadcastNestedLoopJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds and "CartesianProduct" not in kinds


def test_ivfpq_recall_vs_ivf_tier(spark):
    """Isolate what the combined tier ADDS over plain IVF: the candidate
    set (probed cells) is identical, only the scoring side is compressed,
    so int8 reconstruction must preserve >= 90% of each query's IVF
    top-10. (Recall vs the EXACT tier is bounded by the IVF pruning
    itself — ~0.4 on this near-random corpus — which the plain-IVF tier
    already owns and documents.)"""
    from apache_flink_pratices_spark.operators.quantization import ann_ivfpq_topk
    from apache_flink_pratices_spark.operators.similarity import ann_ivf_topk

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    ivf = topsets(ann_ivf_topk(spark, SF))
    ivfpq = topsets(ann_ivfpq_topk(spark, SF))
    recalls = [len(ivf[q] & ivfpq[q]) / len(ivf[q]) for q in ivf]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ivfpq_candidates_pruned_by_probes(spark):
    """The scored candidate set must be strictly smaller than the corpus
    per query (the IVF pruning is real, not a broadcast-everything), and
    the join graph is broadcast-only — corpus embeddings never shuffle."""
    from apache_flink_pratices_spark.operators.quantization import ann_ivfpq_topk

    plan = formatted_plan(ann_ivfpq_topk(spark, SF))
    kinds = set(join_kinds(plan))
    assert "SortMergeJoin" not in kinds and "CartesianProduct" not in kinds
    assert "BroadcastHashJoin" in kinds, kinds


def test_ivfpq_vectorized_corpus_matches_expression_twin(spark):
    """ivfpq_corpus (numpy mapInPandas) must be BIT-identical to the
    ann_ivfpq_topk DuckDB oracle's own stages — cell ids (``assigned``),
    reconstructed code vectors (``rec``, one row per element) and rnrm
    doubles (``rnorm``) — on the real corpus at two scale factors
    (round 7: the corpus prep moved off interpreted HOF lambdas; this
    pin licenses the move)."""
    from apache_flink_pratices_spark.operators.quantization import (
        _dim_stats,
        ivfpq_corpus,
    )
    from apache_flink_pratices_spark.io import load

    for sf in (SF, "/root/testdata/sf0.01"):
        mn, mx = _dim_stats(spark, sf)
        e = load(spark, sf, "embeddings")
        vec = {
            r["vec_id"]: (r["cell"], tuple(r["rec"]), r["rnrm"])
            for r in ivfpq_corpus(e, mn, mx).collect()
        }
        con = duck(sf)
        cells = rows_by(con, oracle_stage("ann_ivfpq_topk", "assigned"), "vec_id", "cell")
        rnrm = rows_by(con, oracle_stage("ann_ivfpq_topk", "rnorm"), "vec_id", "nrm")
        rec: dict[int, list] = {}
        for r in sorted(
            con.execute(oracle_stage("ann_ivfpq_topk", "rec")).fetch_arrow_table().to_pylist(),
            key=lambda r: (r["vec_id"], r["k"]),
        ):
            rec.setdefault(r["vec_id"], []).append(r["r"])
        con.close()
        ref = {
            v: (cells[v][0], tuple(rec[v]), rnrm[v][0]) for v in rec
        }
        assert vec == ref
