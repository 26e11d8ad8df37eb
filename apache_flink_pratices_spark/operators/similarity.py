"""Similarity search over the `embeddings` table (array<float> vectors).

Brute-force cosine top-k is the correctness baseline: broadcast the (small)
query set against the distributed corpus, compute dot products JVM-side with
higher-order functions (zip_with + aggregate), rank per query. At 100 TB the
corpus side stays partition-parallel; only k rows per query cross the final
shuffle boundary (per-query top-k is a partial-aggregatable pattern via
window rank after AQE-coalesced exchange).

Numeric determinism: each element product (IEEE-identical everywhere) is
quantized to 1e-12 by flooring into int64 and summed as plain longs —
exact, order-independent, and primitive-typed so whole-stage codegen keeps
the hot loop allocation-free. Spark and DuckDB produce bit-identical
cosines.

The LSH-bucketed variant (``ann_lsh_topk``) is the scale path: candidate
generation via random-hyperplane (sign) signatures banded like minhash-LSH,
then the same exact-cosine verify on candidates only. Hyperplane entries
are ±1 derived from md5 of the (bit, dim) index — computable identically
in Spark and DuckDB — and each signature bit is the sign of an exact
scaled-int64-accumulated projection, so bucket membership is deterministic
across engines (no float-ordering sign flips on near-orthogonal vectors).

Parameter note, pinned by tests: the driver's synthetic embeddings are
isotropic (top-10 cosines ≈ 0.26-0.37), so high recall forces small bands
(2 bits × 8 bands ⇒ measured recall 0.96, candidate fraction ~0.87 —
little pruning is *information-theoretically available* on unclustered
data). On clustered embeddings, where ANN is actually deployed, the same
operator with 8-bit bands prunes >85% at recall ≥0.9
(tests/test_ann_lsh.py::test_clustered_data_prunes).
"""

from __future__ import annotations

import hashlib
import sys

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark import artifacts
from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.registry import register

N_QUERIES = 5  # vec_id < 5 form the query set
TOP_K = 10
DIM = 64  # embeddings.embedding is float[64] (TESTDATA.md)

#: random-hyperplane signature defaults for the registered query (see
#: module docstring for why the bands are this small on isotropic data)
RH_BITS = 16
RH_BAND = 2

# Determinism-with-speed: element products are quantized to 1e-12 by
# flooring product·1e12 into int64, then summed as plain longs — exact,
# order-independent, and it stays in whole-stage codegen's primitive fast
# path (a decimal accumulator forces BigDecimal allocation per element and
# measured ~5× slower on the sf0.1 bench). |product|·1e12 ≤ ~2.5e13 and
# 64-element sums ≤ ~1.6e15 < 2^53, so the final long→double cast and the
# /1e12 division are exact and identical in both engines.
_SCALE = 1_000_000_000_000  # 1e12 quantization of each product


def _scaled_products(a: Column, b: Column) -> Column:
    return F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * _SCALE).cast("long")
    )


def _dot(a: Column, b: Column) -> Column:
    """Exact order-independent dot product of two float arrays, as double."""
    total = F.aggregate(
        _scaled_products(a, b), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    return total.cast("double") / F.lit(_SCALE)


def _sql_dot(ax: str, bx: str) -> str:
    return (
        f"CAST(SUM(CAST(floor(CAST({ax} AS DOUBLE) * CAST({bx} AS DOUBLE) * {_SCALE}) AS BIGINT)) AS DOUBLE)"
        f" / {_SCALE}"
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, label,
             {_sql_dot('u.x', 'u.x')} AS nrm
      FROM embeddings, LATERAL (SELECT unnest(embedding) AS x) u
      GROUP BY vec_id, label
    ),
    dots AS (
      SELECT qid AS query_id, vid AS vec_id,
             {_sql_dot('u.qx', 'u.ex')} AS dot
      FROM (SELECT q.vec_id AS qid, e.vec_id AS vid,
                   q.embedding AS qe, e.embedding AS ee
            FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
                 JOIN embeddings e ON e.vec_id <> q.vec_id) p,
           LATERAL (SELECT unnest(qe) AS qx, unnest(ee) AS ex) u
      GROUP BY query_id, vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, ne.label,
             d.dot / (sqrt(nq.nrm) * sqrt(ne.nrm)) AS cosine
      FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms ne ON ne.vec_id = d.vec_id
    )
    SELECT query_id, vec_id, label, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
    doc="Brute-force cosine top-k (k=10) for 5 query vectors over the corpus: "
    "broadcast queries × distributed corpus, JVM-side zip_with/aggregate dot "
    "products, per-query window rank with deterministic tiebreak.",
    bench=True,
    tags=("similarity", "ann"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    with_norm = e.select(
        "vec_id", "label", "embedding", _dot(F.col("embedding"), F.col("embedding")).alias("nrm")
    )
    q = _query_frame(e, N_QUERIES)
    pairs = with_norm.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    # EXPRESSION verify, by measurement (r15, VERDICT r14 #3): the r14
    # Arrow-kernel verify sat directly on this BroadcastNestedLoopJoin
    # output — the exact shape the r14 PQ experiment measured unstable
    # and reverted (driver row 0.34× at 367% spread). Same-box A/B under
    # the driver recipe: kernel 0.608 s @ 66% spread vs expression twin
    # 0.610 s @ 23% — equal mins, 3× tighter spread, and the JVM
    # expression also avoids streaming |Q|·N pairs of 64-dim embeddings
    # across the Arrow boundary (ADVICE r14). The kernel remains the
    # verify for the equi-join tails (_ivf_probe_verify, LSH), where it
    # measured stable.
    return _ranked_topk(_pair_cosine_scored_expr(pairs), TOP_K)


# --- random-hyperplane LSH (bucketed ANN) ---------------------------------
def _md5_pm_matrix(prefix: str, rows: int, dim: int, mag: float) -> list[list[float]]:
    """±mag matrix: entry (j, k) is +mag when the first md5 byte of
    '{prefix}-{j}-{k}' is even (k is 1-based to match SQL
    generate_subscripts). The ONE Python definition behind both the
    hyperplane signs and the planted-cluster offsets (review r7: two
    verbatim copies of the derivation could drift independently);
    :func:`_sql_md5_pm_cte` is its SQL twin."""
    return [
        [
            mag
            if hashlib.md5(f"{prefix}-{j}-{k}".encode()).digest()[0] % 2 == 0
            else -mag
            for k in range(1, dim + 1)
        ]
        for j in range(rows)
    ]


def rh_signs(bits: int, dim: int) -> list[list[float]]:
    """±1 hyperplane matrix from md5 of 'afp-rh-{bit}-{k}'; identical
    derivation in the oracle."""
    return _md5_pm_matrix("afp-rh", bits, dim, 1.0)


def _signature_bands(
    vectors: DataFrame, bits: int, band_size: int, dim: int
) -> DataFrame:
    """(vec_id, band, bucket): banded sign signature per vector.

    Each bit is sign(Σ floor(x_k·s_k·1e12)) with the per-element products
    floor-quantized into int64 BEFORE summing — order-independent and
    bit-identical to the SQL oracle derivation.

    Implementation note (round 7): this is a vectorized Arrow
    ``mapInPandas`` stage, not a higher-order-function expression. Spark's
    ``transform``/``aggregate`` lambdas execute interpreted per element —
    the 64-bit clustered signature (bits × dim = 4096 lambda invocations
    per row) measured ~4 s for a 2,000-row corpus, while the numpy
    formulation does the same exact arithmetic as (rows × dim) array ops
    per bit in ~0.3 s. Per-row work is O(bits·dim) either way; only the
    constant changed. Quantization stays exact: x (float32→float64 is
    exact) times ±1 is exact, so ``floor((x·s)·1e12)`` in numpy float64
    equals the JVM/DuckDB double result bit for bit.
    """
    import numpy as np
    import pandas as pd

    from apache_flink_pratices_spark.functions.vectorized import (
        scaled_floor_sums,
    )

    signs = np.array(rh_signs(bits, dim), dtype=np.float64)  # (bits, dim)
    n_bands = bits // band_size
    weights = (1 << np.arange(band_size - 1, -1, -1)).astype(np.int64)

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            bitvals = scaled_floor_sums(emb, signs, _SCALE) >= 0
            buckets = (
                bitvals.reshape(n, n_bands, band_size).astype(np.int64) * weights
            ).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return vectors.select("vec_id", "embedding").mapInPandas(
        fn, "vec_id bigint, band int, bucket bigint"
    )


def ann_lsh_frame(
    vectors: DataFrame,
    bits: int = RH_BITS,
    band_size: int = RH_BAND,
    top_k: int = TOP_K,
) -> DataFrame:
    """Bucketed ANN over (vec_id, label, embedding) rows: band-bucket
    candidates → exact-cosine verify on candidates only → per-query top-k.

    At scale the verify cost is bounded by bucket collisions (the brute
    path is O(|Q|·N·d)); the signature pass is one JVM-side map over the
    corpus, and candidates shuffle as (query_id, vec_id) pairs only.
    """
    with_norm = vectors.select(
        "vec_id", "label", "embedding",
        _dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
    )
    # The corpus signature pass has exactly ONE consumer (the corpus side
    # of the band join): the broadcast query side re-derives its
    # signatures from the N_QUERIES RAW rows instead of filtering a
    # persisted corpus-wide signature table (r14, guide §5 "caching is
    # only worth it when a DataFrame is reused"). The old persist made
    # the qb broadcast build materialize the ENTIRE corpus signature
    # cache to extract 5 query rows — a corpus-sized session cache and a
    # full materialization barrier before the main join could start; the
    # per-row signature kernel is deterministic, so re-running it on the
    # tiny query subset is bit-identical and costs N_QUERIES rows. At
    # 100 TB this is the difference between caching the corpus signature
    # table and streaming it through the join once.
    bands = _signature_bands(vectors, bits, band_size, DIM)
    qb = _signature_bands(
        vectors.filter(F.col("vec_id") < N_QUERIES), bits, band_size, DIM
    ).select(F.col("vec_id").alias("query_id"), "band", "bucket")
    cand = (
        bands.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q = _query_frame(vectors, N_QUERIES)
    pairs = cand.join(with_norm, "vec_id").join(F.broadcast(q), "query_id")
    return _ranked_topk(_pair_cosine_scored(pairs), top_k)


def _sql_md5_pm_cte(
    cte: str, prefix: str, rows: int, row_col: str, val_col: str, pos: str, neg: str
) -> str:
    """DuckDB twin of :func:`_md5_pm_matrix`: a CTE named ``cte`` with
    columns (``row_col``, k, ``val_col``) where the value is ``pos`` when
    the first md5 byte of '{prefix}-{row}-{k}' is even, else ``neg``. The
    ONE SQL definition behind the hyperplane signs CTE and the
    planted-cluster offsets CTE (review r7)."""
    return f"""
    {cte} AS (
      SELECT {row_col}, k,
             CASE WHEN CAST(('0x' || substr(md5('{prefix}-' || {row_col} || '-' || k), 1, 2)) AS INTEGER) % 2 = 0
                  THEN {pos} ELSE {neg} END AS {val_col}
      FROM (SELECT unnest(generate_series(0, {rows - 1})) AS {row_col}) ri,
           (SELECT unnest(generate_series(1, {DIM})) AS k) ki
    )
    """


def _sql_rh_signs(bits: int) -> str:
    """The hyperplane-signs CTE for an arbitrary bit count — the ONE
    definition (review r7: the RH_BITS instance was a verbatim copy that
    could silently drift from the clustered one)."""
    return _sql_md5_pm_cte("signs", "afp-rh", bits, "j", "s", "1.0", "-1.0")


_SQL_RH_SIGNS = _sql_rh_signs(RH_BITS)


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_SQL_RH_SIGNS},
    elems AS (
      SELECT vec_id, u.k, u.x
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS k) u
    ),
    bits AS (
      SELECT e.vec_id, s.j,
             (SUM(CAST(floor(CAST(e.x AS DOUBLE) * s.s * {_SCALE}) AS BIGINT)) >= 0) AS bit
      FROM elems e JOIN signs s ON s.k = e.k
      GROUP BY e.vec_id, s.j
    ),
    bands AS (
      SELECT vec_id, j // {RH_BAND} AS band,
             CAST(SUM(CASE WHEN bit THEN power(2, {RH_BAND - 1} - (j % {RH_BAND})) ELSE 0 END) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, band
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS vec_id
      FROM bands q JOIN bands e ON q.band = e.band AND q.bucket = e.bucket
      WHERE q.vec_id < {N_QUERIES} AND e.vec_id <> q.vec_id
    ),
    norms AS (
      SELECT vec_id, label,
             {_sql_dot('u.x', 'u.x')} AS nrm
      FROM embeddings, LATERAL (SELECT unnest(embedding) AS x) u
      GROUP BY vec_id, label
    ),
    dots AS (
      SELECT qid AS query_id, vid AS vec_id,
             {_sql_dot('u.qx', 'u.ex')} AS dot
      FROM (SELECT c.query_id AS qid, c.vec_id AS vid,
                   q.embedding AS qe, e.embedding AS ee
            FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id) p,
           LATERAL (SELECT unnest(qe) AS qx, unnest(ee) AS ex) u
      GROUP BY query_id, vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, ne.label,
             d.dot / (sqrt(nq.nrm) * sqrt(ne.nrm)) AS cosine
      FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms ne ON ne.vec_id = d.vec_id
    )
    SELECT query_id, vec_id, label, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
    doc=f"Bucketed ANN: random-hyperplane sign signatures ({RH_BITS} bits, "
    f"{RH_BAND}-bit bands), band-bucket candidates, exact-cosine verify on "
    "candidates only, per-query top-k. Measured recall vs brute force "
    "≥ 0.9 (asserted in tests/test_ann_lsh.py).",
    bench=True,
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh_frame(load(spark, sf_dir, "embeddings"))


# --- IVF (inverted-file) ANN ----------------------------------------------
#: IVF cell count and probe width. Cells partition the corpus by argmax
#: inner product against K fixed directions; queries probe the NPROBE
#: nearest cells. Production IVF trains centroids with k-means and loads
#: them as a small broadcast table (O(K·d) model state — the canonical
#: broadcast pattern); here the directions are derived deterministically
#: from md5 so both engines build the identical partition with no trained
#: artifact to ship. The plan shape — map-side assignment, broadcast
#: probes, cell-bounded verify — is exactly the trained-centroid plan.
IVF_CELLS = 16
IVF_NPROBE = 4


def ivf_directions(cells: int = IVF_CELLS, dim: int = DIM) -> list[list[float]]:
    """±1 direction matrix from md5 of 'afp-ivf-{cell}-{k}' (k 1-based) —
    the same derivation kernel as :func:`rh_signs`."""
    return _md5_pm_matrix("afp-ivf", cells, dim, 1.0)


def _ivf_sims() -> Column:
    """array<struct<neg_sim, cell>> of exact scaled-int64 direction sims,
    sorted so element 1 is the argmax cell (ties → smallest cell id).

    The 16×64 direction matrix is ONE nested-array literal looped by an
    indexed ``transform``, not 16 unrolled aggregate expressions: the
    literal is data, so whole-stage codegen emits a single tight loop —
    measured ~3× lower plan-compile + first-run cost than the unrolled
    form, same results."""
    dirs_lit = F.lit(ivf_directions())
    entries = F.transform(
        dirs_lit,
        lambda d, i: F.struct(
            (
                -F.aggregate(
                    _scaled_products(F.col("embedding"), d),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
            ).alias("neg_sim"),
            i.alias("cell"),
        ),
    )
    return F.array_sort(entries)


def ivf_assign_expr(vectors: DataFrame) -> DataFrame:
    """Expression-twin of :func:`ivf_assign` (higher-order functions).

    Kept as the cross-engine reference formulation: tests pin
    ``ivf_assign`` bit-equal to this on real and random corpora, and the
    tiny query-side probe list still derives from the same ``_ivf_sims``
    expression. Not used on the corpus hot path — HOF lambdas evaluate
    interpreted per element (cells × dim = 1024 invocations per row)."""
    return vectors.select(
        "vec_id",
        "label",
        "embedding",
        _dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
        F.element_at(_ivf_sims(), 1)["cell"].alias("cell"),
    )


def ivf_assign(vectors: DataFrame) -> DataFrame:
    """(vec_id, label, embedding, nrm, cell): map-side cell assignment —
    no shuffle; the embedding never leaves its input partition.

    Implementation note (round 7): vectorized Arrow ``mapInPandas``, the
    same rewrite that took the LSH signature pass 4 s → 0.3 s (see
    _signature_bands) — Spark's ``transform``/``aggregate`` lambdas
    execute interpreted per element, and the corpus-side argmax is
    cells × dim = 1024 invocations per row. The numpy formulation does
    the identical arithmetic: float32→float64 is exact, ``(x·s)·1e12``
    floors to the same int64 in numpy float64 as in the JVM double path,
    int64 sums are exact, and ``np.argmax`` breaks ties at the smallest
    cell id exactly like the ``array_sort(struct(neg_sim, cell))``
    expression. Equality with :func:`ivf_assign_expr` is pinned in
    tests/test_ann_ivf.py."""
    import numpy as np
    import pandas as pd

    from apache_flink_pratices_spark.functions.vectorized import (
        scaled_floor_sums,
    )

    dirs = np.array(ivf_directions(), dtype=np.float64)  # (cells, dim)
    scale = float(_SCALE)

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nrm = (
                np.floor(emb * emb * _SCALE).astype(np.int64).sum(axis=1)
                / scale
            )
            sims = scaled_floor_sums(emb, dirs, _SCALE)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    # positional (not index-aligned) pass-through of the
                    # original float32 arrays — lossless arrow round trip
                    "embedding": list(pdf["embedding"]),
                    "nrm": nrm,
                    "cell": sims.argmax(axis=1).astype(np.int32),
                }
            )

    return vectors.select("vec_id", "label", "embedding").mapInPandas(
        fn,
        "vec_id bigint, label int, embedding array<float>, nrm double, cell int",
    )


def ann_ivf_frame(vectors: DataFrame, top_k: int = TOP_K) -> DataFrame:
    """IVF ANN: assign corpus to cells, probe the query's IVF_NPROBE best
    cells, exact-cosine verify inside probed cells only, per-query top-k.

    At 100 TB the corpus is written bucketed by cell; a query then reads
    only IVF_NPROBE/IVF_CELLS of the data — the probe list is a broadcast
    of N_QUERIES·IVF_NPROBE (8-byte, 8-byte) rows, and the verify is
    partition-local within each probed cell.
    """
    # assigned has exactly ONE consumer (the candidate side): the query
    # frame is re-derived from the N_QUERIES RAW rows (see _query_frame),
    # so the vectorized assignment streams straight into the probe join —
    # no corpus-sized cache, no materialization barrier (r14, guide §5).
    assigned = ivf_assign(vectors)
    probes = (
        vectors.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.transform(
                    F.slice(_ivf_sims(), 1, IVF_NPROBE), lambda s: s["cell"]
                )
            ).alias("cell"),
        )
    )
    return _ivf_probe_verify(
        assigned, probes, _query_frame(vectors, N_QUERIES), top_k
    )


def _pair_cosine_scored(pairs: DataFrame) -> DataFrame:
    """(query_id, vec_id, label, cosine) from candidate rows carrying both
    embeddings and norms — vectorized Arrow ``mapInPandas``.

    The candidate verify is the same hot loop ``_semantic_pair_cosine``
    (operators/dedup.py) vectorized for the within-cell pair stream: the
    interpreted higher-order ``_dot`` pays ~2 lambda invocations per
    element per pair, while the numpy formulation of the SAME quantized
    arithmetic — per-element ``floor(q·e·SCALE)`` in float64, exact int64
    sum, one double division (np.sqrt and '/' are IEEE-correctly-rounded,
    same bits as the JVM) — runs per Arrow batch. Bit-equal to
    :func:`_pair_cosine_scored_expr` (pinned in tests/test_ann_lsh.py).
    Only the 7 needed columns cross the boundary (guide §4).

    Data bound (ADVICE r14): ``np.floor(...).astype(np.int64)`` WRAPS on
    overflow where the JVM twin's ``CAST(double AS BIGINT)`` saturates,
    so bit-equality holds only while every per-element product satisfies
    |x·y|·1e12 < 2^63 — i.e. |x·y| < ~9.2e6, far beyond any normalized
    embedding but NOT enforced for arbitrary vectors passed through the
    public ``ann_*_frame`` entry points. Out-of-bounds inputs diverge
    from the oracle bit-wise rather than failing loudly."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qe = np.array(pdf["q_embedding"].tolist(), dtype=np.float64)
            ee = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            dots = (
                np.floor(qe * ee * float(_SCALE)).astype(np.int64).sum(axis=1)
                / float(_SCALE)
            )
            cos = dots / (
                np.sqrt(pdf["q_nrm"].to_numpy(dtype=np.float64))
                * np.sqrt(pdf["nrm"].to_numpy(dtype=np.float64))
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "cosine": cos,
                }
            )

    return pairs.select(
        "query_id", "vec_id", "label", "q_embedding", "q_nrm", "embedding", "nrm"
    ).mapInPandas(fn, "query_id bigint, vec_id bigint, label int, cosine double")


def _pair_cosine_scored_expr(pairs: DataFrame) -> DataFrame:
    """Retained expression twin of :func:`_pair_cosine_scored` — the
    cross-engine derivation the DuckDB oracles mirror (same stance as
    ``_semantic_pair_cosine_expr``)."""
    cosine = _dot(F.col("q_embedding"), F.col("embedding")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(F.col("nrm"))
    )
    return pairs.select("query_id", "vec_id", "label", cosine.alias("cosine"))


def _ranked_topk(scored: DataFrame, top_k: int) -> DataFrame:
    """Per-query top-k with the suite's deterministic tiebreak."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("query_id", "vec_id", "label", "cosine", "rn")
    )


def _query_frame(vectors: DataFrame, n_queries: int) -> DataFrame:
    """(query_id, q_embedding, q_nrm) for the n_queries query vectors,
    derived straight from the RAW rows. The HOF ``_dot`` norm runs on
    n_queries rows only and is pinned bit-equal to the vectorized
    kernels' numpy norm (tests/test_ann_ivf.py pins ivf_assign ==
    ivf_assign_expr, whose nrm is this same expression), so serving the
    query side from here instead of a persisted corpus-wide assignment
    frame changes no bits — it only drops the corpus-sized cache and
    the materialization barrier its broadcast build paid (r14)."""
    return vectors.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        _dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
    )


def _ivf_probe_verify(
    assigned: DataFrame, probes: DataFrame, q: DataFrame, top_k: int
) -> DataFrame:
    """The shared IVF tail (round 13, extracted verbatim for the
    trained-centroid variant): broadcast the (query, cell) probe list
    over a cell-assigned corpus, exact-cosine verify inside probed
    cells only, per-query top-k. ``q`` is the (query_id, q_embedding,
    q_nrm) frame — see :func:`_query_frame`."""
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", "embedding", "nrm")
    )
    # No dedup needed: the assignment puts each corpus vector in exactly
    # ONE cell (argmax/argmin) and `probes` holds unique (query_id, cell)
    # pairs, so the broadcast join cannot duplicate a (query_id, vec_id).
    # A distinct here would wide-shuffle the 64-dim embeddings for
    # nothing; if a multi-cell assignment is ever added, dedup on
    # (query_id, vec_id) BEFORE attaching embeddings instead.
    scored = _pair_cosine_scored(cand.join(F.broadcast(q), "query_id"))
    return _ranked_topk(scored, top_k)


_SQL_IVF_DIRS = _sql_md5_pm_cte(
    "dirs", "afp-ivf", IVF_CELLS, "m", "s", "1.0", "-1.0"
)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_SQL_IVF_DIRS},
    elems AS (
      SELECT vec_id, u.k, u.x
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS k) u
    ),
    sims AS (
      SELECT e.vec_id, d.m,
             SUM(CAST(floor(CAST(e.x AS DOUBLE) * d.s * {_SCALE}) AS BIGINT)) AS sim
      FROM elems e JOIN dirs d ON d.k = e.k
      GROUP BY e.vec_id, d.m
    ),
    ranked AS (
      SELECT vec_id, m AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, m) AS rk
      FROM sims
    ),
    assigned AS (SELECT vec_id, cell FROM ranked WHERE rk = 1),
    probes AS (
      SELECT vec_id AS query_id, cell
      FROM ranked WHERE vec_id < {N_QUERIES} AND rk <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    norms AS (
      SELECT vec_id, label,
             {_sql_dot('u.x', 'u.x')} AS nrm
      FROM embeddings, LATERAL (SELECT unnest(embedding) AS x) u
      GROUP BY vec_id, label
    ),
    dots AS (
      SELECT qid AS query_id, vid AS vec_id,
             {_sql_dot('u.qx', 'u.ex')} AS dot
      FROM (SELECT c.query_id AS qid, c.vec_id AS vid,
                   q.embedding AS qe, e.embedding AS ee
            FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id) p,
           LATERAL (SELECT unnest(qe) AS qx, unnest(ee) AS ex) u
      GROUP BY query_id, vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, ne.label,
             d.dot / (sqrt(nq.nrm) * sqrt(ne.nrm)) AS cosine
      FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms ne ON ne.vec_id = d.vec_id
    )
    SELECT query_id, vec_id, label, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
    doc=f"IVF ANN: corpus partitioned into {IVF_CELLS} cells by argmax "
    f"inner product against fixed directions, queries probe their "
    f"{IVF_NPROBE} best cells, exact-cosine verify inside probed cells "
    "only. The third ANN tier: brute force (exact baseline), LSH "
    "(bucket-join candidates), IVF (data-partitioned — at scale the "
    "corpus is bucketed by cell on disk and a query scans "
    f"{IVF_NPROBE}/{IVF_CELLS} of it).",
    bench=True,
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_ivf_frame(load(spark, sf_dir, "embeddings"))


# --- TRAINED-centroid IVF (VERDICT r12 #4) -----------------------------------
#: Lloyd iterations for the trained index (kmeans_fit's default budget);
#: the oracle unrolls exactly this many update stages, and converged
#: extra stages are fixpoints in both engines, so the unroll is safe
IVF_KM_ITERS = 5


def trained_ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """The trained IVF codebook: ``IVF_CELLS`` k-means centroids
    (quantized int64, kmeans.Q scale) for THIS corpus, served from a
    write-once JSON artifact — closing the stand-in gap this module's
    round-7 note documented (hash-derived directions stood in for a
    trained codebook; keying and publishing:
    apache_flink_pratices_spark/artifacts.py). The key names the whole
    kmeans module, not just kmeans_fit: it delegates all distance,
    quantization and tie-break arithmetic to module helpers (self-review
    r13). First build pays the deterministic farthest-point seeding +
    bounded Lloyd loop; every later caller — including each fresh
    bench/driver subprocess — reads K x dims integers."""
    from apache_flink_pratices_spark.operators import kmeans as km

    key = artifacts.key(
        sf_dir,
        (km, sys.modules[__name__]),
        IVF_CELLS,
        km.Q,
        IVF_KM_ITERS,
        "ivf_centroids",
        table="embeddings",
    )

    def build() -> dict:
        seeds, _hist = km.kmeans_fit(
            load(spark, sf_dir, "embeddings"), k=IVF_CELLS, max_iter=IVF_KM_ITERS
        )
        return {"centroids": seeds}

    obj = artifacts.json_artifact(
        "ivf_centroids",
        key,
        build,
        valid=lambda o: isinstance(o.get("centroids"), list),
    )
    return [[int(v) for v in row] for row in obj["centroids"]]


def l2_cells_sorted(seeds: list[list[int]]) -> Column:
    """array<struct<d2, cell>> over the ``embedding`` column, sorted
    ascending by exact quantized-int64 squared distance to each trained
    centroid (ties -> smallest cell): element 1 is the assignment, the
    first IVF_NPROBE are the probe list. The K x dims codebook inlines
    as ONE nested literal looped by an indexed transform (the
    kmeans._best_cluster codegen stance). HOF-interpreted per element —
    the corpus hot path uses the vectorized kernel instead; this is the
    query-side probe (N_QUERIES rows) and the pinned expression twin."""
    from apache_flink_pratices_spark.operators.kmeans import Q

    qe = F.expr(
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {Q}) AS BIGINT))"
    )
    entries = F.transform(
        F.lit([[int(v) for v in s] for s in seeds]),
        lambda s, i: F.struct(
            F.aggregate(
                F.zip_with(qe, s, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d2"),
            i.cast("long").alias("cell"),
        ),
    )
    return F.array_sort(entries)


def ivf_assign_trained_expr(
    vectors: DataFrame, seeds: list[list[int]]
) -> DataFrame:
    """Expression twin of :func:`ivf_assign_trained` — the cross-engine
    reference formulation the vectorized kernel is pinned bit-equal to
    (tests/test_ann_ivf_trained.py), mirroring ivf_assign_expr."""
    return vectors.select(
        "vec_id",
        "label",
        "embedding",
        _dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
        F.element_at(l2_cells_sorted(seeds), 1)["cell"].cast("int").alias("cell"),
    )


def ivf_assign_trained(
    vectors: DataFrame, seeds: list[list[int]]
) -> DataFrame:
    """(vec_id, label, embedding, nrm, cell): map-side nearest-trained-
    centroid assignment, vectorized Arrow kernel (the ivf_assign /
    kmeans.assign_frame rewrite). All-integer after the floor(x·Q)
    quantization — numpy int64 matches the JVM long path exactly;
    ``argmin`` ties break at the smallest cell like the sorted-struct
    expression; nrm uses the same scaled-floor formula as ivf_assign."""
    import numpy as np
    import pandas as pd

    from apache_flink_pratices_spark.operators.kmeans import Q

    seed_a = np.array(seeds, dtype=np.int64)  # (cells, dim)
    scale = float(_SCALE)

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            qe = np.floor(emb * Q).astype(np.int64)
            nrm = (
                np.floor(emb * emb * _SCALE).astype(np.int64).sum(axis=1)
                / scale
            )
            d = np.empty((n, len(seed_a)), dtype=np.int64)
            for c in range(len(seed_a)):
                diff = qe - seed_a[c]
                d[:, c] = (diff * diff).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "embedding": list(pdf["embedding"]),
                    "nrm": nrm,
                    "cell": d.argmin(axis=1).astype(np.int32),
                }
            )

    # embedding passed through as double: the trained path also runs on
    # the derived clustered corpus (array<double>); the raw table's
    # float32 widens losslessly and _dot casts to double anyway
    return vectors.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(
        fn,
        "vec_id bigint, label int, embedding array<double>, nrm double, cell int",
    )


def ann_ivf_trained_frame(
    vectors: DataFrame, seeds: list[list[int]]
) -> DataFrame:
    """Trained-centroid IVF ANN: assign the corpus to its nearest
    k-means centroid (map-only kernel), probe each query's IVF_NPROBE
    nearest centroids, exact-cosine verify inside probed cells only —
    the identical cell-bounded tail as the hash-grid IVF by shared
    :func:`_ivf_probe_verify`. Like the hash-grid frame, the assignment
    has one consumer and streams unpersisted; the query side comes from
    the raw rows (r14, guide §5)."""
    assigned = ivf_assign_trained(vectors, seeds)
    probes = vectors.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.transform(
                F.slice(l2_cells_sorted(seeds), 1, IVF_NPROBE),
                lambda s: s["cell"].cast("int"),
            )
        ).alias("cell"),
    )
    return _ivf_probe_verify(
        assigned, probes, _query_frame(vectors, N_QUERIES), TOP_K
    )


def _sql_ann_ivf_trained() -> str:
    """DuckDB twin of the ENTIRE trained pipeline, unrolled: deterministic
    farthest-point seeding (IVF_CELLS-1 running-min/argmax stages),
    IVF_KM_ITERS Lloyd iterations (exact int64 distances; centroid
    update is exact FLOOR division — ``(sx - ((sx % n) + n) % n) // n``
    replicates Python's ``//`` for negative sums where DuckDB truncates),
    then the nearest-centroid assignment/probe and the standard cell-bounded
    cosine verify. Multiply-referenced stages are MATERIALIZED (the
    bpe_train exponential-inlining lesson)."""
    from apache_flink_pratices_spark.operators.kmeans import Q

    parts = [
        f"""
    q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {Q}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    qel AS MATERIALIZED (
      SELECT vec_id, u.k, u.x
      FROM q, LATERAL (SELECT unnest(qe) AS x,
                              generate_subscripts(qe, 1) AS k) u
    ),
    s1 AS MATERIALIZED (SELECT qe FROM q ORDER BY vec_id LIMIT 1)"""
    ]
    for j in range(1, IVF_CELLS):
        if j == 1:
            parts.append("""
    m1 AS MATERIALIZED (
      SELECT p.vec_id, CAST(SUM((u.a - u.b) * (u.a - u.b)) AS BIGINT) AS d2
      FROM (SELECT v.vec_id, v.qe, s.qe AS sq FROM q v CROSS JOIN s1 s) p,
           LATERAL (SELECT unnest(p.qe) AS a, unnest(p.sq) AS b) u
      GROUP BY p.vec_id
    )""")
        else:
            parts.append(f"""
    m{j} AS MATERIALIZED (
      SELECT p.vec_id,
             LEAST(p.d2, CAST(SUM((u.a - u.b) * (u.a - u.b)) AS BIGINT)) AS d2
      FROM (SELECT m.vec_id, m.d2, v.qe, s.qe AS sq
            FROM m{j - 1} m JOIN q v USING (vec_id) CROSS JOIN s{j} s) p,
           LATERAL (SELECT unnest(p.qe) AS a, unnest(p.sq) AS b) u
      GROUP BY p.vec_id, p.d2
    )""")
        parts.append(f"""
    s{j + 1} AS MATERIALIZED (
      SELECT v.qe FROM m{j} m JOIN q v USING (vec_id)
      ORDER BY m.d2 DESC, m.vec_id LIMIT 1
    )""")
    seeds_union = "\n      UNION ALL ".join(
        f"SELECT {c} AS cluster, qe FROM s{c + 1}" for c in range(IVF_CELLS)
    )
    parts.append(f"""
    seeds0 AS MATERIALIZED (
      {seeds_union}
    )""")
    for it in range(1, IVF_KM_ITERS + 1):
        parts.append(f"""
    a{it} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM (SELECT p.vec_id, p.cluster,
                     CAST(SUM((u.a - u.b) * (u.a - u.b)) AS BIGINT) AS d2
              FROM (SELECT v.vec_id, s.cluster, v.qe, s.qe AS sq
                    FROM q v CROSS JOIN seeds{it - 1} s) p,
                   LATERAL (SELECT unnest(p.qe) AS a, unnest(p.sq) AS b) u
              GROUP BY p.vec_id, p.cluster))
      WHERE rn = 1
    ),
    u{it} AS (
      SELECT a.cluster, e.k, CAST(SUM(e.x) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a{it} a JOIN qel e USING (vec_id)
      GROUP BY a.cluster, e.k
    ),
    seeds{it} AS MATERIALIZED (
      SELECT s.cluster, COALESCE(uu.nq, s.qe) AS qe
      FROM seeds{it - 1} s LEFT JOIN (
        SELECT cluster,
               list(CAST((sx - (((sx % n) + n) % n)) // n AS BIGINT)
                    ORDER BY k) AS nq
        FROM u{it} GROUP BY cluster) uu ON uu.cluster = s.cluster
    )""")
    parts.append(f"""
    rankt AS MATERIALIZED (
      SELECT vec_id, cluster AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, cluster) AS rk
      FROM (SELECT p.vec_id, p.cluster,
                   CAST(SUM((u.a - u.b) * (u.a - u.b)) AS BIGINT) AS d2
            FROM (SELECT v.vec_id, s.cluster, v.qe, s.qe AS sq
                  FROM q v CROSS JOIN seeds{IVF_KM_ITERS} s) p,
                 LATERAL (SELECT unnest(p.qe) AS a, unnest(p.sq) AS b) u
            GROUP BY p.vec_id, p.cluster)
    ),
    assigned AS (SELECT vec_id, cell FROM rankt WHERE rk = 1),
    probes AS (
      SELECT vec_id AS query_id, cell
      FROM rankt WHERE vec_id < {N_QUERIES} AND rk <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    norms AS (
      SELECT vec_id, label,
             {_sql_dot('u.x', 'u.x')} AS nrm
      FROM embeddings, LATERAL (SELECT unnest(embedding) AS x) u
      GROUP BY vec_id, label
    ),
    dots AS (
      SELECT qid AS query_id, vid AS vec_id,
             {_sql_dot('u.qx', 'u.ex')} AS dot
      FROM (SELECT c.query_id AS qid, c.vec_id AS vid,
                   qq.embedding AS qemb, e.embedding AS ee
            FROM cand c
              JOIN embeddings qq ON qq.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id) p,
           LATERAL (SELECT unnest(qemb) AS qx, unnest(ee) AS ex) u
      GROUP BY query_id, vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, ne.label,
             d.dot / (sqrt(nq.nrm) * sqrt(ne.nrm)) AS cosine
      FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms ne ON ne.vec_id = d.vec_id
    )""")
    final = f"""
    SELECT query_id, vec_id, label, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}"""
    return "WITH " + ",".join(parts) + final


@register(
    "ann_ivf_trained_topk",
    oracle=_sql_ann_ivf_trained(),
    doc=f"IVF ANN probing a TRAINED, artifact-served codebook (VERDICT "
    f"r12 #4 — the last ANN stand-in closed): {IVF_CELLS} k-means "
    "centroids (deterministic farthest-point seeding + "
    f"{IVF_KM_ITERS} exact-int64 Lloyd iterations over quantized "
    "elements) are trained once per corpus and published as a "
    "write-once JSON artifact keyed by embeddings-file identity + "
    "config + trainer module sources; every query then runs the "
    "identical cell-bounded plan as ann_ivf_topk (map-side "
    f"nearest-centroid assignment, {IVF_NPROBE}/{IVF_CELLS} probes, "
    "exact-cosine verify inside probed cells) with the codebook as the "
    "broadcast side — the production 'index is derived data' shape. "
    "The oracle recomputes the ENTIRE pipeline (seeding, Lloyd, probe, "
    "verify) as unrolled CTE stages, so the artifact content itself is "
    "value-hash-checked against an independent engine. Measured on the "
    "planted-cluster corpus the trained codebook beats the hash-grid "
    "cells (ann_ivf_trained_recall_bench, pinned in "
    "tests/test_ann_ivf_trained.py).",
    bench=True,
    tags=("similarity", "ann", "ivf", "kmeans", "training"),
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeds = trained_ivf_centroids(spark, sf_dir)
    return ann_ivf_trained_frame(load(spark, sf_dir, "embeddings"), seeds)


def ann_ivf_trained_recall_bench(spark: SparkSession, sf_dir: str) -> dict:
    """Measured trained-vs-hash-grid IVF comparison on the planted-cluster
    corpus (the deployment regime): per-variant recall@10 vs brute force
    and candidate fraction, so the 'trained centroids beat the stand-in
    grid' claim is a measured, test-pinned number (VERDICT r12 #4)."""
    from pyspark.sql.window import Window

    from pyspark.storagelevel import StorageLevel

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


# --- per-label centroids ---------------------------------------------------
@register(
    "label_centroids",
    oracle=f"""
    WITH elems AS (
      SELECT label, u.k, u.x
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS k) u
    ),
    sums AS (
      SELECT label, k,
             SUM(CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM elems GROUP BY label, k
    )
    SELECT label, k,
           CAST(s AS DOUBLE) / {_SCALE} / n AS centroid,
           CAST(n AS BIGINT) AS n_vectors
    FROM sums
    """,
    doc="Class prototypes: the exact mean embedding per label, emitted in "
    "long form (label, dimension k, centroid value). Element sums "
    "accumulate as quantized int64 (order-independent, bit-identical "
    "across engines); the groupBy carries (label, k, 8-byte) triples with "
    "map-side combine, so shuffle volume is labels × dims regardless of "
    "corpus size — the reduction a prototype classifier or k-means "
    "iteration runs at 100 TB.",
    tags=("similarity", "embedding", "centroid"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    elems = e.select(
        "label", F.posexplode("embedding").alias("k0", "x")
    ).select(
        "label",
        (F.col("k0") + 1).alias("k"),
        F.floor(F.col("x").cast("double") * _SCALE).cast("long").alias("sx"),
    )
    sums = elems.groupBy("label", "k").agg(
        F.sum("sx").alias("s"), F.count("*").alias("n")
    )
    return sums.select(
        "label",
        "k",
        (F.col("s").cast("double") / F.lit(_SCALE) / F.col("n")).alias("centroid"),
        F.col("n").alias("n_vectors"),
    )


@register(
    "embedding_drift_stats",
    oracle=f"""
    WITH elems AS (
      SELECT label, u.k, u.x
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS k) u
    ),
    sums AS (
      SELECT label, k,
             SUM(CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM elems GROUP BY label, k
    ),
    cent AS (
      SELECT label, k, CAST(s AS DOUBLE) / {_SCALE} / n AS c, n FROM sums
    ),
    sq AS (
      SELECT e.label,
             CAST(floor((CAST(e.x AS DOUBLE) - c.c)
                        * (CAST(e.x AS DOUBLE) - c.c) * {_SCALE}) AS BIGINT)
               AS q
      FROM elems e JOIN cent c ON c.label = e.label AND c.k = e.k
    ),
    nv AS (SELECT label, MAX(n) AS n FROM cent GROUP BY label)
    SELECT sq.label,
           CAST(nv.n AS BIGINT) AS n_vectors,
           CAST(SUM(sq.q) AS DOUBLE) / {_SCALE} / nv.n AS mean_sq_dist
    FROM sq JOIN nv ON nv.label = sq.label
    GROUP BY sq.label, nv.n
    """,
    doc="Embedding drift / cluster-compactness monitor: per label, the "
    "mean squared distance of its vectors to the label centroid — the "
    "statistic a training pipeline tracks across corpus snapshots to "
    "catch embedding-space drift before it poisons ANN indexes and "
    "mixture weights. Two passes over the element stream (centroid "
    "build, then distance accumulate), both shuffling only quantized "
    "(label, dim, int64) triples with map-side combine; centroids "
    "re-attach as a broadcast (labels x dims bounded). Per-element "
    "squared deviations are floor-quantized to int64 BEFORE summing, "
    "and the merge widens to decimal(38,0), so the statistic is "
    "order-independent and bit-identical across engines at any scale.",
    tags=("similarity", "embedding", "drift", "llm-pipeline"),
)
def embedding_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    cent = label_centroids(spark, sf_dir).select(
        "label", "k", F.col("centroid").alias("c"), "n_vectors"
    )
    elems = e.select("label", F.posexplode("embedding").alias("k0", "x")).select(
        "label", (F.col("k0") + 1).alias("k"), F.col("x").cast("double").alias("x")
    )
    diff = F.col("x") - F.col("c")
    q = F.floor(diff * diff * F.lit(_SCALE)).cast("long")
    sq = elems.join(F.broadcast(cent), ["label", "k"]).select(
        "label", q.alias("q"), "n_vectors"
    )
    return sq.groupBy("label", F.col("n_vectors")).agg(
        (
            F.sum(F.col("q").cast("decimal(38,0)")).cast("double")
            / F.lit(_SCALE)
            / F.col("n_vectors")
        ).alias("mean_sq_dist")
    ).select("label", "n_vectors", "mean_sq_dist")


# --- planted-cluster ANN benchmark corpus (VERDICT r6 #5) -------------------
# The driver's embeddings are isotropic, so the headline LSH bench measures
# a corpus where pruning is information-theoretically absent (module
# docstring). ANN is deployed on CLUSTERED data; to put the pruning story
# in the benchmarked/driver-checked surface, this derives a deterministic
# planted-cluster corpus FROM the driver embeddings — each vector is offset
# by a ±CLU_W direction chosen by md5-hash of its vec_id — so DuckDB can
# mirror the construction and the oracle stays a full value-hash check.
CLU_N = 10  #: planted clusters
CLU_W = 0.375  #: per-dim offset magnitude (3/8: exact in binary, so the
#: derived corpus is bit-identical across engines)
CLU_BITS = 64  #: signature bits for the clustered variant
CLU_BAND = 8  #: band width → 8 bands × 256 buckets (measured at sf0.01:
#: recall 1.0, candidate fraction 0.137; 32 bits gave recall 0.90 with no
#: margin, 48 gave 0.92 — the extra bands buy recall headroom while the
#: fraction stays well under the 0.2 bar)


def cluster_offsets(n: int = CLU_N) -> list[list[float]]:
    """±CLU_W offset matrix from md5 of 'afp-clu-{c}-{k}' (k 1-based) —
    the same derivation kernel as :func:`rh_signs` (w=1 special case)."""
    return _md5_pm_matrix("afp-clu", n, DIM, CLU_W)


def clustered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, embedding double[64]): the planted-cluster corpus.

    Map-only derivation — cluster id is a hash of vec_id, the offset
    row is a broadcast literal; nothing shuffles."""
    from apache_flink_pratices_spark.functions.hashing import md5_long

    e = load(spark, sf_dir, "embeddings")
    offs = F.lit(cluster_offsets())
    c = md5_long(F.col("vec_id").cast("string")) % CLU_N
    row_off = F.element_at(offs, (c + 1).cast("int"))
    emb = F.zip_with(
        F.col("embedding"), row_off, lambda x, o: x.cast("double") + o
    )
    return e.select("vec_id", "label", emb.alias("embedding"))


_SQL_CLUSTERED_ELEMS = f"""
    clu AS (
      SELECT vec_id, {{md5}} % {CLU_N} AS c FROM embeddings
    ),
    {_sql_md5_pm_cte("offs", "afp-clu", CLU_N, "c", "o", str(CLU_W), str(-CLU_W))},
    elems AS (
      SELECT e.vec_id, u.k, CAST(u.x AS DOUBLE) + f.o AS x
      FROM embeddings e
        JOIN clu ON clu.vec_id = e.vec_id,
        LATERAL (SELECT unnest(e.embedding) AS x,
                        generate_subscripts(e.embedding, 1) AS k) u
        JOIN offs f ON f.c = clu.c AND f.k = u.k
    ),
    labels AS (SELECT vec_id, label FROM embeddings)
"""


@register(
    "ann_lsh_topk_clustered",
    oracle=(
        "WITH "
        + _SQL_CLUSTERED_ELEMS.format(
            md5="CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 14)) AS BIGINT)"
        )
        + ","
        + _sql_rh_signs(CLU_BITS)
        + f""",
    bits AS (
      SELECT e.vec_id, s.j,
             (SUM(CAST(floor(e.x * s.s * {_SCALE}) AS BIGINT)) >= 0) AS bit
      FROM elems e JOIN signs s ON s.k = e.k
      GROUP BY e.vec_id, s.j
    ),
    bands AS (
      SELECT vec_id, j // {CLU_BAND} AS band,
             CAST(SUM(CASE WHEN bit THEN power(2, {CLU_BAND - 1} - (j % {CLU_BAND})) ELSE 0 END) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, band
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS vec_id
      FROM bands q JOIN bands e ON q.band = e.band AND q.bucket = e.bucket
      WHERE q.vec_id < {N_QUERIES} AND e.vec_id <> q.vec_id
    ),
    norms AS (
      SELECT vec_id, {_sql_dot('e.x', 'e.x')} AS nrm
      FROM elems e
      GROUP BY vec_id
    ),
    dots AS (
      SELECT c.query_id, c.vec_id,
             {_sql_dot('q.x', 'e.x')} AS dot
      FROM cand c
        JOIN elems q ON q.vec_id = c.query_id
        JOIN elems e ON e.vec_id = c.vec_id AND e.k = q.k
      GROUP BY c.query_id, c.vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, lb.label,
             d.dot / (sqrt(nq.nrm) * sqrt(ne.nrm)) AS cosine
      FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms ne ON ne.vec_id = d.vec_id
        JOIN labels lb ON lb.vec_id = d.vec_id
    )
    SELECT query_id, vec_id, label, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """
    ),
    doc=f"Bucketed ANN on a CLUSTERED corpus — the deployment regime where "
    f"LSH pruning actually pays: each driver embedding is offset by one of "
    f"{CLU_N} deterministic ±{CLU_W} centroid directions (hash-assigned, "
    "so DuckDB mirrors the corpus exactly), then the standard "
    f"random-hyperplane pipeline runs with {CLU_BITS}-bit signatures in "
    f"{CLU_BITS // CLU_BAND} bands of {CLU_BAND} bits (256 buckets/band). "
    "Same-cluster vectors dominate each query's true top-k and collide in "
    "the wide bands, cross-cluster signatures agree per-bit with p≈0.5 so "
    "a band collides with p≈1/256 — measured candidate fraction <0.2 and "
    "recall ≥0.9 vs the brute-force oracle on the same derived corpus "
    "(pinned in tests/test_ann_lsh.py, VERDICT r6 #5). Plan shape "
    "identical to ann_lsh_topk: map-only signatures, broadcast query "
    "bands, exact verify on candidates only.",
    bench=True,
    tags=("similarity", "ann", "lsh", "clustered"),
)
def ann_lsh_topk_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh_frame(
        clustered_embeddings(spark, sf_dir), bits=CLU_BITS, band_size=CLU_BAND
    )


def ann_lsh_clustered_candidate_fraction(
    spark: SparkSession, sf_dir: str
) -> float:
    """Measured candidate fraction of the clustered LSH query: distinct
    (query, candidate) pairs / (N_QUERIES · (N−1)); the pruning claim
    is pinned on it in tests/test_ann_lsh.py."""
    from pyspark.storagelevel import StorageLevel

    vectors = clustered_embeddings(spark, sf_dir)
    # persist: the signature pass is the dominant map work and feeds BOTH
    # band-join sides (review r7: it ran twice per call without this);
    # n comes off the same cache instead of a third corpus scan
    bands = _signature_bands(vectors, CLU_BITS, CLU_BAND, DIM).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_bands = CLU_BITS // CLU_BAND
    n = bands.count() // n_bands
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    cand = (
        bands.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    frac = cand.count() / float(N_QUERIES * (n - 1))
    bands.unpersist()
    return frac
