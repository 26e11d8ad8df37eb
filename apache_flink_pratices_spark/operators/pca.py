"""Embedding decorrelation: matrix-free PCA power iteration over the
`embeddings` table — the dimensionality-reduction / whitening-prep pass a
training-data pipeline runs before IVF coarse quantization or semantic
dedup at 100 TB.

Scale design (same playbook as :mod:`.kmeans`):

- **One map-only pass per iteration.** The 64-dim iterate ``v`` is pulled
  to the driver (a constant-size vector, like a broadcast dim) and
  inlined as a literal; the step computes ``w = Σ_x x·(xᵀv)`` with a
  per-row fold (dot product, then scale each component) feeding a
  posexplode + bounded (dim)-keyed aggregation — the only shuffle carries
  64 partial sums per input partition regardless of corpus size. No
  covariance matrix is ever materialized (64×64 would be fine, but N×64
  × 64 intermediate products would not be at 100 TB; the fold keeps it
  at 64 longs per row).
- **Cross-engine exactness for the oracle-checked step.** Elements
  quantize to int64 at 1e4 (|x| ≲ 6 ⇒ q ≤ 6e4); with the all-ones start
  vector the dot ≤ 64·6e4 < 4e6 and each product ≤ 2.4e11, so the summed
  components stay < 2^63 up to ~10M rows — exact integers in both
  engines at every test SF. The *loop* normalizes the iterate to unit
  length in doubles each round (driver-side, 64 values), so magnitudes
  never grow with iteration count; its convergence properties are
  pytest-checked (Rayleigh quotient non-decreasing, recovery of a
  planted dominant direction), the same weaker-check class as
  ``kmeans_fit``.

Reference parity: the reference has no PCA — this is part of the
training-data-pipeline superset (task brief), sharing the embedding
column with ``ann_*`` / ``kmeans_*``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.operators.kmeans import Q, _quantized
from apache_flink_pratices_spark.registry import register

#: embedding width of the testdata corpus (asserted at load in the loop)
DIMS = 64
#: power-iteration convergence: stop once the unit iterate moves less
#: than this (Euclidean step between rounds)
PCA_TOL = 1e-7


def _power_step(vectors: DataFrame, v: list[int]) -> DataFrame:
    """(k, w): one un-normalized power-iteration step w = Σ_x x·(xᵀv)
    over quantized embeddings, with the iterate inlined as a literal.

    Map-only until the bounded 64-group aggregation: the dot product is
    an ordered fold over the array, each component product is computed
    in the same projection, and posexplode + groupBy(k) does the
    reduction with map-side combine."""
    lit_v = F.lit([int(c) for c in v])
    dot = F.aggregate(
        F.zip_with(F.col("qe"), lit_v, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        vectors.select(_quantized().alias("qe"))
        .select("qe", dot.alias("d"))
        .select(F.expr("posexplode(transform(qe, x -> x * d))").alias("k0", "wx"))
        .select((F.col("k0") + 1).cast("long").alias("k"), "wx")
        .groupBy("k")
        .agg(F.sum("wx").cast("long").alias("w"))
    )


@register(
    "pca_power_step",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {Q}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    dots AS (
      SELECT qe,
             CAST(list_sum(qe) AS BIGINT) AS d  -- all-ones start vector
      FROM q
    )
    SELECT u.k, CAST(SUM(u.x * d.d) AS BIGINT) AS w
    FROM dots d,
         LATERAL (SELECT unnest(d.qe) AS x,
                         generate_subscripts(d.qe, 1) AS k) u
    GROUP BY u.k
    """,
    doc="Matrix-free PCA power-iteration step w = Σ_x x·(xᵀv) over "
    "quantized embeddings with the all-ones start iterate inlined as a "
    "literal: map-only fold per row, one bounded 64-group shuffle, no "
    "covariance matrix materialized — the pass an embedding-whitening "
    "pipeline repeats per iteration at 100 TB. Exact int64 arithmetic "
    "both engines.",
    bench=True,
    tags=("embedding", "pca", "clustering"),
)
def pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = load(spark, sf_dir, "embeddings")
    return _power_step(vectors, [1] * DIMS)


def pca_fit(
    vectors: DataFrame, max_iter: int = 8
) -> tuple[list[float], list[float]]:
    """Power-iteration loop: returns (unit top principal direction,
    per-round Rayleigh-quotient history — non-decreasing up to float
    rounding by construction).

    Each round is ONE action (the 64-row step aggregate); the iterate is
    re-normalized to unit length driver-side and re-inlined, so the
    inlined literals stay O(dims) and magnitudes never compound. The
    Rayleigh quotient vᵀ(Σ xxᵀ)v / vᵀv is derived from the same step
    result (w·v), costing nothing extra."""
    v = [1.0] * DIMS
    history: list[float] = []
    for _ in range(max_iter):
        # scale the unit iterate to integers for the exact fold; 1e6
        # keeps 6 significant digits of direction per round
        scale = 1_000_000
        vi = [int(round(c * scale)) for c in v]
        rows = _power_step(vectors, vi).collect()
        w = [0.0] * DIMS
        for r in rows:
            w[r["k"] - 1] = float(r["w"])
        rayleigh = sum(wk * vk for wk, vk in zip(w, vi)) / (
            sum(vk * vk for vk in vi) or 1.0
        )
        history.append(rayleigh)
        norm = math.sqrt(sum(x * x for x in w))
        if norm == 0.0:
            break
        new_v = [x / norm for x in w]
        if sum((a - b) ** 2 for a, b in zip(new_v, v)) < PCA_TOL * PCA_TOL:
            v = new_v
            break
        v = new_v
    return v, history
