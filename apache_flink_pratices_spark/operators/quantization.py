"""Embedding compression: per-dimension int8 (256-bin) quantization with
reconstruction-error audit — the scalar-quantizer half of an IVF+PQ-style
ANN index build, and the storage-reduction pass a 100 TB embedding corpus
goes through before serving.

Scale design:

- **Two passes, second map-only.** Pass 1 computes per-dimension min/max
  — a posexplode + 64-group bounded aggregation (the same shape as the
  kmeans update shuffle: 64 partials per partition regardless of corpus
  size) fetched to the driver as a constant-size stats vector. Pass 2
  inlines the 64 (min, range) pairs as literals and quantizes every
  vector in one whole-stage-codegen projection: ZERO joins, zero
  shuffles on the N×64 element stream (a stats-join alternative would
  push every element through a join).
- **Cross-engine exactness without decimal gymnastics.** min/max select
  existing float values (no arithmetic); the bin index is
  ``floor((x-min)·256/range)`` — two IEEE double ops with identical
  expression shape in Spark and DuckDB, so the floor is bit-identical —
  and every OUTPUT is an integer: per-vector code checksum, max
  reconstruction error scaled to 1e-8 grid, and the code of dimension 0
  (a direct probe). Floats only exist inside the expression, never in
  the compared result.

Reference parity: no counterpart (training-pipeline superset, task
brief); shares the embedding column with ``ann_*``/``kmeans_*``/``pca_*``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.registry import register

#: quantization bins (int8 codes 0..255)
BINS = 256
#: reconstruction-error grid: errors are reported as floor(|err|·1e8)
ERR_SCALE = 100_000_000


def _dim_stats(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — a bounded 64-row fetch
    (constant-size, the broadcast-dim class of collect)."""
    rows = (
        load(spark, sf_dir, "embeddings")
        .select(
            F.posexplode(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            ).alias("k0", "x")
        )
        .groupBy("k0")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    by_k = {r["k0"]: (r["mn"], r["mx"]) for r in rows}
    dims = sorted(by_k)
    return [by_k[k][0] for k in dims], [by_k[k][1] for k in dims]


@register(
    "embedding_int8_quantize",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ),
    elems AS (
      SELECT e.vec_id, u.x, u.k
      FROM e, LATERAL (SELECT unnest(e.xs) AS x,
                              generate_subscripts(e.xs, 1) AS k) u
    ),
    stats AS (SELECT k, MIN(x) AS mn, MAX(x) AS mx FROM elems GROUP BY k),
    codes AS (
      SELECT el.vec_id, el.k,
             CASE WHEN s.mx = s.mn THEN 0
                  ELSE CAST(LEAST(255, GREATEST(0,
                       floor((el.x - s.mn) * {BINS} / (s.mx - s.mn)))) AS BIGINT)
             END AS q,
             el.x, s.mn, s.mx
      FROM elems el JOIN stats s USING (k)
    ),
    errs AS (
      SELECT vec_id, k, q,
             CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(abs(x - (mn + (q + 0.5) * (mx - mn) / {BINS}))
                                  * {ERR_SCALE}) AS BIGINT)
             END AS err_q
      FROM codes
    )
    SELECT vec_id,
           CAST(SUM(q) AS BIGINT) AS code_sum,
           CAST(MAX(err_q) AS BIGINT) AS max_err_1e8,
           CAST(MAX(CASE WHEN k = 1 THEN q END) AS BIGINT) AS code_dim0
    FROM errs
    GROUP BY vec_id
    """,
    doc=f"Per-dimension int8 ({BINS}-bin) scalar quantization of the "
    "embedding corpus with a reconstruction-error audit: pass 1 is a "
    "bounded 64-group min/max aggregation, pass 2 inlines the stats as "
    "literals and quantizes map-only (zero joins on the element stream). "
    "Outputs are integers only (per-vector code checksum, max "
    "bin-center reconstruction error on a 1e-8 grid, dim-0 code), so "
    "the IEEE double pipeline is hash-checked bit-exactly across "
    "engines.",
    bench=True,
    tags=("embedding", "quantization", "compression"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    mn, mx = _dim_stats(spark, sf_dir)
    lit_mn, lit_mx = F.lit(mn), F.lit(mx)

    def per_elem(x, i):
        m = F.element_at(lit_mn, i + 1)
        rng = F.element_at(lit_mx, i + 1) - m
        q = F.when(rng == 0.0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.lit(255).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor((x - m) * BINS / rng),
                ),
            )
        )
        rec = m + (q.cast("double") + 0.5) * rng / BINS
        err = F.when(rng == 0.0, F.lit(0).cast("long")).otherwise(
            F.floor(F.abs(x - rec) * ERR_SCALE)
        )
        return F.struct(q.alias("q"), err.alias("err_q"))

    codes = F.transform(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"), per_elem
    )
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", codes.alias("ce"))
        .select(
            "vec_id",
            F.aggregate(
                F.col("ce"), F.lit(0).cast("long"), lambda a, s: a + s["q"]
            ).alias("code_sum"),
            F.array_max(F.expr("transform(ce, s -> s.err_q)")).alias(
                "max_err_1e8"
            ),
            F.element_at(F.col("ce"), 1)["q"].alias("code_dim0"),
        )
    )


# --- compressed-index ANN: asymmetric distance over int8 codes ------------


@register(
    "ann_pq_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ),
    elems AS (
      SELECT e.vec_id, e.label, u.x, u.k
      FROM e, LATERAL (SELECT unnest(e.xs) AS x,
                              generate_subscripts(e.xs, 1) AS k) u
    ),
    stats AS (SELECT k, MIN(x) AS mn, MAX(x) AS mx FROM elems GROUP BY k),
    rec AS (
      SELECT el.vec_id, el.label, el.k,
             CASE WHEN s.mx = s.mn THEN s.mn
                  ELSE s.mn + (CAST(LEAST(255, GREATEST(0,
                         floor((el.x - s.mn) * 256 / (s.mx - s.mn)))) AS BIGINT)
                       + 0.5) * (s.mx - s.mn) / 256
             END AS r
      FROM elems el JOIN stats s USING (k)
    ),
    rnorm AS (
      SELECT re.vec_id, re.label, CAST(SUM(CAST(floor(CAST(re.r AS DOUBLE) * CAST(re.r AS DOUBLE) * 1000000000000) AS BIGINT)) AS DOUBLE) / 1000000000000 AS nrm
      FROM rec re GROUP BY re.vec_id, re.label
    ),
    qnorm AS (
      SELECT el.vec_id AS query_id, CAST(SUM(CAST(floor(CAST(el.x AS DOUBLE) * CAST(el.x AS DOUBLE) * 1000000000000) AS BIGINT)) AS DOUBLE) / 1000000000000 AS nrm
      FROM elems el WHERE el.vec_id < 5 GROUP BY el.vec_id
    ),
    dots AS (
      SELECT q.vec_id AS query_id, r.vec_id, CAST(SUM(CAST(floor(CAST(q.x AS DOUBLE) * CAST(r.r AS DOUBLE) * 1000000000000) AS BIGINT)) AS DOUBLE) / 1000000000000 AS dot
      FROM elems q JOIN rec r ON q.k = r.k AND r.vec_id <> q.vec_id
      WHERE q.vec_id < 5
      GROUP BY q.vec_id, r.vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, rn2.label,
             d.dot / (sqrt(qn.nrm) * sqrt(rn2.nrm)) AS cosine_pq
      FROM dots d
        JOIN qnorm qn ON qn.query_id = d.query_id
        JOIN rnorm rn2 ON rn2.vec_id = d.vec_id
    )
    SELECT query_id, vec_id, label, cosine_pq, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_pq DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    doc="Compressed-index ANN tier: asymmetric cosine top-k with EXACT "
    "query vectors against int8-RECONSTRUCTED corpus vectors (the "
    "classic ADC pattern of a PQ/SQ index). The corpus side carries only "
    "the codes — 16x smaller than float32, which is what lets a 100 TB "
    "embedding corpus fit a memory-resident index; reconstruction and "
    "the 1e-12-floored exact dot products run map-side in one codegen "
    "pass, broadcast queries, per-query window rank. Recall vs the "
    "exact tier is pinned in tests/test_pca_quantize.py. Same "
    "cross-engine determinism playbook as ann_cosine_topk.",
    bench=True,
    tags=("similarity", "ann", "quantization"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from apache_flink_pratices_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        _dot,
    )

    mn, mx = _dim_stats(spark, sf_dir)

    e = load(spark, sf_dir, "embeddings")
    xs = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    # corpus reconstruction shares the vectorized ivfpq stage (the unused
    # cell argmax costs ~nothing in numpy; the HOF formulation it replaces
    # paid dim x ~8 interpreted ops per corpus row)
    corpus = ivfpq_corpus(e, mn, mx).select("vec_id", "label", "rec", "rnrm")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        xs.alias("qx"),
    ).withColumn("qnrm", _dot(F.col("qx"), F.col("qx")))
    pairs = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        "label",
        (
            _dot(F.col("qx"), F.col("rec"))
            / (F.sqrt(F.col("qnrm")) * F.sqrt(F.col("rnrm")))
        ).alias("cosine_pq"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_pq"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "label", "cosine_pq", "rn")
    )


# --- IVF + PQ combined: probe cells, score compressed codes -----------------


def _sql_pq_rec_ctes() -> str:
    """DuckDB CTEs ending in ``rec(vec_id, label, k, r)`` — the int8
    bin-center reconstruction of every corpus vector (shared with the
    ann_pq_topk oracle shape)."""
    return f"""
    e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ),
    elems AS (
      SELECT e.vec_id, e.label, u.x, u.k
      FROM e, LATERAL (SELECT unnest(e.xs) AS x,
                              generate_subscripts(e.xs, 1) AS k) u
    ),
    stats AS (SELECT k, MIN(x) AS mn, MAX(x) AS mx FROM elems GROUP BY k),
    rec AS (
      SELECT el.vec_id, el.label, el.k,
             CASE WHEN s.mx = s.mn THEN s.mn
                  ELSE s.mn + (CAST(LEAST(255, GREATEST(0,
                         floor((el.x - s.mn) * {BINS} / (s.mx - s.mn)))) AS BIGINT)
                       + 0.5) * (s.mx - s.mn) / {BINS}
             END AS r
      FROM elems el JOIN stats s USING (k)
    )"""


def _ann_ivfpq_oracle() -> str:
    from apache_flink_pratices_spark.operators.similarity import (
        _SCALE,
        _SQL_IVF_DIRS,
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
    )

    return f"""
    WITH {_SQL_IVF_DIRS},
    {_sql_pq_rec_ctes()},
    sims AS (
      SELECT el.vec_id, d.m,
             SUM(CAST(floor(CAST(el.x AS DOUBLE) * d.s * {_SCALE}) AS BIGINT)) AS sim
      FROM elems el JOIN dirs d ON d.k = el.k
      GROUP BY el.vec_id, d.m
    ),
    cells AS (
      SELECT vec_id, m AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, m) AS rk
      FROM sims
    ),
    assigned AS (SELECT vec_id, cell FROM cells WHERE rk = 1),
    probes AS (
      SELECT vec_id AS query_id, cell
      FROM cells WHERE vec_id < {N_QUERIES} AND rk <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    rnorm AS (
      SELECT vec_id, label,
             CAST(SUM(CAST(floor(r * r * {_SCALE}) AS BIGINT)) AS DOUBLE)
               / {_SCALE} AS nrm
      FROM rec GROUP BY vec_id, label
    ),
    qnorm AS (
      SELECT vec_id AS query_id,
             CAST(SUM(CAST(floor(x * x * {_SCALE}) AS BIGINT)) AS DOUBLE)
               / {_SCALE} AS nrm
      FROM elems WHERE vec_id < {N_QUERIES} GROUP BY vec_id
    ),
    dots AS (
      SELECT c.query_id, c.vec_id,
             CAST(SUM(CAST(floor(q.x * r.r * {_SCALE}) AS BIGINT)) AS DOUBLE)
               / {_SCALE} AS dot
      FROM cand c
        JOIN elems q ON q.vec_id = c.query_id
        JOIN rec r ON r.vec_id = c.vec_id AND r.k = q.k
      GROUP BY c.query_id, c.vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, rn2.label,
             d.dot / (sqrt(qn.nrm) * sqrt(rn2.nrm)) AS cosine_pq
      FROM dots d
        JOIN qnorm qn ON qn.query_id = d.query_id
        JOIN rnorm rn2 ON rn2.vec_id = d.vec_id
    )
    SELECT query_id, vec_id, label, cosine_pq, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_pq DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """


def ivfpq_corpus(e: DataFrame, mn: list, mx: list) -> DataFrame:
    """(vec_id, label, cell, rec, rnrm): map-side IVF cell assignment plus
    int8-reconstructed code vectors, one vectorized Arrow stage.

    Round 7: same rewrite as similarity.ivf_assign — the argmax +
    reconstruction arithmetic is identical floor-quantized IEEE float64
    in numpy (division-by-zero rows resolve through the same mx = mn
    guard the oracle's CASE applies), pinned bit-equal to the
    ``ann_ivfpq_topk`` oracle's ``assigned``, ``rec`` and ``rnorm``
    stages in tests/test_pca_quantize.py."""
    import numpy as np
    import pandas as pd

    from apache_flink_pratices_spark.functions.vectorized import (
        scaled_floor_sums,
    )

    from apache_flink_pratices_spark.operators.similarity import (
        _SCALE,
        ivf_directions,
    )

    dirs = np.array(ivf_directions(), dtype=np.float64)  # (cells, dim)
    mn_a = np.array(mn, dtype=np.float64)
    rng_a = np.array(mx, dtype=np.float64) - mn_a

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            sims = scaled_floor_sums(x, dirs, _SCALE)
            with np.errstate(divide="ignore", invalid="ignore"):
                q = np.floor(((x - mn_a) * BINS) / rng_a)
            q = np.minimum(255.0, np.maximum(0.0, q))
            rec = np.where(rng_a == 0.0, mn_a, mn_a + ((q + 0.5) * rng_a) / BINS)
            rnrm = (
                np.floor(rec * rec * _SCALE).astype(np.int64).sum(axis=1)
                / float(_SCALE)
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "cell": sims.argmax(axis=1).astype(np.int32),
                    "rec": list(rec),
                    "rnrm": rnrm,
                }
            )

    return e.select("vec_id", "label", "embedding").mapInPandas(
        fn, "vec_id bigint, label int, cell int, rec array<double>, rnrm double"
    )


@register(
    "ann_ivfpq_topk",
    oracle=_ann_ivfpq_oracle(),
    doc="IVF + PQ combined — the production shape of a billion-scale ANN "
    "index (what FAISS calls IVFx,SQ8): the corpus is partitioned into "
    "cells by argmax direction sim (map-side, zero shuffle), stored as "
    "int8 codes (16x smaller), and a query touches ONLY its nprobe best "
    "cells, scoring exact-query-vs-reconstructed-corpus asymmetric "
    "cosine. The two prunings compose: IVF cuts the candidate set to "
    "nprobe/cells of the corpus, PQ cuts bytes-per-candidate 16x — at "
    "100 TB that is the difference between a memory-resident index and "
    "a disk scan. Everything is the same exactness playbook as the "
    "separate tiers (1e-12-floored dots, integer cell ranks); recall vs "
    "the exact baseline is pinned in tests/test_pca_quantize.py.",
    tags=("similarity", "ann", "ivf", "quantization"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from apache_flink_pratices_spark.operators.similarity import (
        _dot,
        _ivf_sims,
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
    )

    mn, mx = _dim_stats(spark, sf_dir)

    e = load(spark, sf_dir, "embeddings")
    xs = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    # corpus: cell assignment is map-side (argmax of the direction sims);
    # the stored representation is the reconstructed code vector
    corpus = ivfpq_corpus(e, mn, mx)
    probes = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.transform(F.slice(_ivf_sims(), 1, IVF_NPROBE), lambda s: s["cell"])
        ).alias("cell"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), xs.alias("qx")
    ).withColumn("qnrm", _dot(F.col("qx"), F.col("qx")))
    cand = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", "rec", "rnrm")
    )
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        "vec_id",
        "label",
        (
            _dot(F.col("qx"), F.col("rec"))
            / (F.sqrt(F.col("qnrm")) * F.sqrt(F.col("rnrm")))
        ).alias("cosine_pq"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "label", "cosine_pq", "rn")
    )
