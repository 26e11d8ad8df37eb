"""Distributed k-means over the `embeddings` table — Lloyd assignment and
centroid update as oracle-checked queries, plus the multi-iteration driver
loop (with deterministic farthest-point seeding) a corpus-curation pipeline
runs to diversify / balance training data at 100 TB (cluster-then-sample,
semantic dedup at cluster granularity, etc.).

Scale design:
- **Assignment is map-only.** The K seed centroids are pulled to the driver
  (K rows — a constant-size fetch, same class as a broadcast-dim load, NOT
  a data-path collect) and inlined as literal arrays, so assigning N
  vectors is one whole-stage-codegen pass with ZERO shuffles (asserted in
  ``tests/test_plan_audit.py::test_kmeans_assign_map_only``): per row,
  K quantized squared-distance folds over the 64-dim array and an
  `array_min` over (dist2, cluster) structs for the deterministic argmin
  (ties break to the lowest cluster id).
- **Update is a bounded aggregation in the SAME pass.** The cluster id is
  computed map-side from the quantized elements (no re-load, no self-join
  back to the vectors), then `posexplode` + `groupBy(cluster, k)` with
  map-side combine — the only shuffle carries K x dims partial sums per
  input partition (K x 64 x ~32 partitions x 24 B here) regardless of
  corpus size, the same reduction shape as `label_centroids`.
- **The loop is K-bounded driver work.** Each Lloyd round collects the
  K x dims centroid rows (a constant-size fetch), re-inlines them as
  literals, and re-runs the same map-only plan; seeding is deterministic
  farthest-point traversal (k-means++'s D^2 rule with argmax instead of
  sampling — reproducible across engines), one map-only pass per seed.
- **Cross-engine exactness.** Elements quantize to int64 at 1e4 before any
  arithmetic: |x| <= ~6 on unit-ish embeddings -> q <= 6e4, per-dim squared
  diff <= ~1.4e10, 64-dim sums <= ~9e11 << 2^63 — exact integers both
  engines, so even the approximate sketch is hash-checked, and the final
  long->double casts are exact (< 2^53).

Reference parity: the reference has no clustering operator — this is part
of the training-data-pipeline superset (task brief), built on the same
embedding column as `ann_*` / `label_centroids`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.registry import register

#: number of clusters; seeds are the embeddings of vec_id 0..K-1 (the
#: deterministic "first K" init for the oracle-checked single step;
#: :func:`kmeans_fit` uses farthest-point seeding instead)
KMEANS_K = 8
#: element quantization: floor(x * 1e4) — exact int64 arithmetic both engines
Q = 10_000


def _quantized(col: str = "embedding") -> Column:
    return F.expr(
        f"transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * {Q}) AS BIGINT))"
    )


def _seed_arrays(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """The K seed vectors, quantized, as plain Python lists.

    A K-row bounded fetch (K is a constant): the scale-up equivalent of
    loading a broadcast dimension, not an O(N) collect."""
    rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < KMEANS_K)
        .select("vec_id", _quantized().alias("qe"))
        .collect()
    )
    by_id = {r["vec_id"]: list(r["qe"]) for r in rows}
    return [by_id[i] for i in sorted(by_id)]


def _best_cluster(seeds: list[list[int]]) -> Column:
    """struct<dist2 long, cluster long>: nearest seed for the `qe` column.

    Pure column arithmetic over an inlined literal — evaluating it adds no
    exchange to whatever plan it is projected into. The K×dims seed matrix
    is ONE nested-array literal looped by an indexed transform (data, not
    K unrolled aggregate expressions), so codegen emits a single tight
    loop; each seed is referenced exactly once, so nothing re-evaluates
    (see docs/scale_notes.md on literal matrices vs codegen)."""
    entries = F.transform(
        F.lit([[int(v) for v in seed] for seed in seeds]),
        lambda s, i: F.struct(
            F.aggregate(
                F.zip_with(F.col("qe"), s, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dist2"),
            i.cast("long").alias("cluster"),
        ),
    )
    return F.array_min(entries)


def assign_frame(vectors: DataFrame, seeds: list[list[int]]) -> DataFrame:
    """(vec_id, cluster, dist2): nearest seed per vector, map-only.

    Round 7: vectorized Arrow ``mapInPandas`` (the K × dim distance
    lambdas evaluate interpreted per element as HOF expressions — same
    rewrite as similarity.ivf_assign). All-integer arithmetic after the
    ``floor(x·Q)`` quantization, so numpy int64 matches the JVM long
    path exactly; ``np.argmin`` breaks ties at the smallest cluster id
    like ``array_min(struct(dist2, cluster))``. Equality with the
    ``kmeans_assign`` DuckDB oracle pinned in tests/test_kmeans.py."""
    import numpy as np
    import pandas as pd

    seed_a = np.array(seeds, dtype=np.int64)  # (K, dim)

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            qe = np.floor(x * Q).astype(np.int64)
            d = np.empty((n, len(seed_a)), dtype=np.int64)
            for k in range(len(seed_a)):
                diff = qe - seed_a[k]
                d[:, k] = (diff * diff).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": d.argmin(axis=1).astype(np.int64),
                    "dist2": d.min(axis=1),
                }
            )

    return vectors.select("vec_id", "embedding").mapInPandas(
        fn, "vec_id bigint, cluster bigint, dist2 bigint"
    )


def update_frame(vectors: DataFrame, seeds: list[list[int]]) -> DataFrame:
    """(cluster, k, centroid, n_vectors): new centroids in long form.

    Assignment and element explosion happen in ONE map-side pass over the
    quantized elements (no join back to the vectors); the only shuffle is
    the bounded (cluster, k) aggregation."""
    elems = (
        vectors.select("vec_id", _quantized().alias("qe"))
        .select(F.col("qe"), _best_cluster(seeds)["cluster"].alias("cluster"))
        .select("cluster", F.posexplode("qe").alias("k0", "x"))
        # k as BIGINT: DuckDB's generate_subscripts yields int64 and the
        # driver's schema check is width-sensitive
        .select("cluster", (F.col("k0") + 1).cast("long").alias("k"), "x")
    )
    return elems.groupBy("cluster", "k").agg(
        (F.sum("x").cast("double") / Q / F.count("*")).alias("centroid"),
        F.count("*").cast("long").alias("n_vectors"),
    )


# DuckDB twin of the assignment step. The (qe, qs) pair is materialized
# into one derived row BEFORE the LATERAL unnest: unnesting arrays from
# two different join sides in the same LATERAL crashes DuckDB 1.0.0's
# binder ("Failed to bind column reference"), same pattern as the
# ann_ivf_topk 'dots' CTE.
_SQL_ASSIGN = f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {Q}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS cluster, qe AS qs FROM q WHERE vec_id < {KMEANS_K}
    ),
    pairs AS (
      SELECT v.vec_id, s.cluster, v.qe, s.qs
      FROM q v CROSS JOIN seeds s
    ),
    dists AS (
      SELECT p.vec_id, p.cluster,
             CAST(SUM((u.a - u.b) * (u.a - u.b)) AS BIGINT) AS dist2
      FROM pairs p,
           LATERAL (SELECT unnest(p.qe) AS a, unnest(p.qs) AS b) u
      GROUP BY p.vec_id, p.cluster
    ),
    assign AS (
      SELECT vec_id, cluster, dist2
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist2, cluster) AS rn
            FROM dists)
      WHERE rn = 1
    )
"""


@register(
    "kmeans_assign",
    oracle=f"""
    WITH {_SQL_ASSIGN}
    SELECT vec_id, cluster, dist2 FROM assign
    """,
    doc=f"Lloyd assignment step: nearest of {KMEANS_K} seed centroids per "
    "embedding by exact quantized-int64 squared distance, ties to the "
    "lowest cluster id. Seeds inline as literals so the pass is map-only "
    "(zero shuffles, asserted in test_plan_audit) — the shape that scans "
    "100 TB once per k-means round.",
    bench=True,
    tags=("clustering", "embedding", "kmeans"),
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = load(spark, sf_dir, "embeddings")
    return assign_frame(vectors, _seed_arrays(spark, sf_dir))


@register(
    "kmeans_update",
    oracle=f"""
    WITH {_SQL_ASSIGN}
    SELECT a.cluster, u.k,
           CAST(SUM(u.x) AS DOUBLE) / {Q} / COUNT(*) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM assign a JOIN q v ON v.vec_id = a.vec_id,
         LATERAL (SELECT unnest(v.qe) AS x,
                         generate_subscripts(v.qe, 1) AS k) u
    GROUP BY a.cluster, u.k
    """,
    doc=f"Lloyd update step: mean embedding per assigned cluster in long "
    "form (cluster, dimension k, centroid, n_vectors). Cluster ids are "
    "recomputed map-side in the same pass as the element explosion (no "
    "self-join), so the only shuffle is the bounded (cluster, k) partial-"
    f"sum merge (= {KMEANS_K} x 64 groups) regardless of corpus size. "
    "Together with kmeans_assign this is one complete k-means iteration, "
    "both halves oracle-checked.",
    tags=("clustering", "embedding", "kmeans"),
)
def kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = load(spark, sf_dir, "embeddings")
    return update_frame(vectors, _seed_arrays(spark, sf_dir))


def seed_farthest_point(
    vectors: DataFrame, k: int = KMEANS_K
) -> list[list[int]]:
    """Deterministic k-means++-style seeding: farthest-point traversal.

    Seed 1 is the lowest vec_id; each subsequent seed is the vector with
    the MAXIMUM squared distance to its nearest chosen seed (k-means++'s
    D^2 weighting with argmax instead of sampling, so it is reproducible
    across engines and runs). Each round is the same map-only distance
    pass as :func:`assign_frame` followed by a 1-row bounded fetch
    (`orderBy(...).limit(1)` -> TakeOrderedAndProject, never a full sort).
    Driver work is K passes x 1 row — constant-size, like a dim load.
    """
    base = vectors.select("vec_id", _quantized().alias("qe"))
    first = base.orderBy("vec_id").limit(1).collect()[0]
    seeds: list[list[int]] = [list(first["qe"])]
    while len(seeds) < k:
        far = (
            base.select("vec_id", "qe", _best_cluster(seeds)["dist2"].alias("d2"))
            .orderBy(F.desc("d2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        seeds.append(list(far["qe"]))
    return seeds


def kmeans_fit(
    vectors: DataFrame,
    k: int = KMEANS_K,
    max_iter: int = 5,
) -> tuple[list[list[int]], list[float]]:
    """Multi-iteration Lloyd loop: returns (final quantized centroids,
    per-round inertia history — non-increasing by construction).

    Each round re-inlines the K x dims centroids as literals (a bounded
    collect of K x dims aggregated rows, NOT the data path) and runs ONE
    action: the bounded (cluster, dim) aggregation also carries the
    round's inertia (each vector's quantized squared distance summed
    exactly once, read off the dim-0 groups), so the corpus is scanned
    once per Lloyd round — not once for inertia and again for the
    update (VERDICT/ADVICE r4). An empty cluster keeps its previous
    centroid."""
    seeds = seed_farthest_point(vectors, k)
    history: list[float] = []
    for _ in range(max_iter):
        # one `best` struct projected, fields extracted from it — never
        # two _best_cluster instances relying on CSE
        assigned = (
            vectors.select("vec_id", _quantized().alias("qe"))
            .select("qe", _best_cluster(seeds).alias("best"))
            .select(
                "qe",
                F.col("best.dist2").alias("d2"),
                F.col("best.cluster").alias("cluster"),
            )
        )
        new_rows = (
            assigned.select("cluster", "d2", F.posexplode("qe").alias("k0", "x"))
            .groupBy("cluster", "k0")
            .agg(
                F.sum("x").alias("sx"),
                F.count("*").alias("n"),
                # per-(cluster, dim) inertia share: within a group every
                # vector contributes its d2 once, so summing sd2 over the
                # k0 == 0 groups alone is the exact total inertia
                F.sum("d2").alias("sd2"),
            )
            .collect()
        )
        inertia = sum(r["sd2"] for r in new_rows if r["k0"] == 0)
        history.append(float(inertia))
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in new_rows:
            by_cluster.setdefault(r["cluster"], {})[r["k0"]] = (r["sx"], r["n"])
        new_seeds: list[list[int]] = []
        for c, old in enumerate(seeds):
            dims = by_cluster.get(c)
            if not dims:  # empty cluster: keep previous centroid
                new_seeds.append(old)
                continue
            new_seeds.append(
                [dims[i][0] // dims[i][1] for i in range(len(old))]
            )
        if new_seeds == seeds:
            break
        seeds = new_seeds
    return seeds, history
