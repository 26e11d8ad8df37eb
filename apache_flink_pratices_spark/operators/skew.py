"""Skew-mitigation helpers: salting for hot keys.

AQE's skew-join splitting (enabled in ``session.tune``) handles moderate
skew at runtime; explicit salting is the deliberate tool for *known*
pathological keys — e.g. a null-ish default account or a stop-category —
where a single key would otherwise pin one task at 100 TB.

- :func:`salted_join` — big⋈small equi-join: the big side gets a
  deterministic salt derived from its other columns, the small side is
  replicated once per salt value, and the join runs on (key, salt). Same
  result set as the plain join; the hot key's rows spread over ``salt_n``
  tasks at the cost of ``salt_n×`` replication of the (broadcastable)
  small side.
- :func:`salted_agg` — two-stage aggregation: partial aggregate on
  (keys, salt), final aggregate on keys. Only for algebraic aggregates
  (sum/count/min/max) whose merge is the same function. (Spark's partial
  aggregation already does this map-side; the explicit form matters when
  the *post-shuffle* reducer for one key is still too big — extreme
  cardinality-1 groups.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_flink_pratices_spark.registry import register


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_n: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with the big side salted over ``salt_n`` buckets.

    The salt is ``xxhash64`` of the big side's full row (so it is
    deterministic and uniform even for one hot key); the small side is
    exploded once per salt value. Join keys become (key, salt).

    Only join types where an unmatched SMALL-side row contributes nothing
    are allowed: with ``right``/``full``/``anti`` the replicated small side
    would emit each unmatched row once per salt replica (ADVICE r2)."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "semi"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join is result-preserving only for {sorted(allowed)}; "
            f"got how={how!r} (unmatched small-side rows would duplicate "
            f"once per salt replica)"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_n))
    big_s = big.withColumn("__salt", salt.cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    joined = big_s.join(small_s, [key, "__salt"], how)
    return joined.drop("__salt")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str] | None = None,
    salt_n: int = 8,
) -> DataFrame:
    """Two-stage sum/count aggregation via an intermediate salted groupBy."""
    sum_cols = sum_cols or []
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_n))
    partial_aggs: list[Column] = [F.sum(c).alias(f"__sum_{c}") for c in sum_cols]
    partial_aggs.append(F.count("*").alias("__cnt"))
    partial = (
        df.withColumn("__salt", salt.cast("int"))
        .groupBy(*keys, "__salt")
        .agg(*partial_aggs)
    )
    final_aggs: list[Column] = [
        F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sum_cols
    ]
    final_aggs.append(F.sum("__cnt").alias("cnt"))
    return partial.groupBy(*keys).agg(*final_aggs)


@register(
    "q_salted_event_type_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
             AS sum_value_c,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
    doc="Extreme-skew aggregation through the two-stage salted plan: "
    "event_type has FIVE distinct values, so a plain groupBy funnels "
    "the whole corpus through five reducer tasks regardless of cluster "
    "size — the canonical case where explicit salting beats waiting "
    "for AQE. Stage 1 aggregates on (event_type, salt) spreading each "
    "hot key over salt_n tasks; stage 2 merges the salt_n partials per "
    "key. Sums run on the cents-quantized int64 (associative, so the "
    "salted regroup is bit-exact); the oracle is the plain GROUP BY — "
    "same result, different (scalable) plan.",
    tags=("skew", "aggregation", "events"),
)
def q_salted_event_type_stats(spark, sf_dir: str) -> DataFrame:
    from apache_flink_pratices_spark.functions.numeric import qlong
    from apache_flink_pratices_spark.io import load

    e = load(spark, sf_dir, "events").select(
        "event_type", qlong(F.col("value"), 100).alias("value_c")
    )
    return salted_agg(e, ["event_type"], sum_cols=["value_c"], salt_n=8)


def salted_bottom_k(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    salt_n: int,
    salt_from: str | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Bottom-k rows of ``order_col`` per ``group_cols`` group, selected in
    two salted stages so no task ever sorts a full group.

    Stage 1 keeps each (group, ``salt_from`` mod ``salt_n``) slice's k
    smallest (the heavy sort fans out over groups × salt_n tasks); stage 2
    merges the ≤ salt_n·k survivors per group and returns them with their
    final rank in ``rn`` (≤ k). An empty ``group_cols`` selects a global
    bottom-k — stage 2 is then a single-task sort over ≤ salt_n·k rows.

    PRECONDITION: ``order_col`` values must be UNIQUE within each group,
    OR ``tiebreak_cols`` must extend the ordering to a total order. With
    ties and no tiebreak, the two row_number stages break ties
    independently per salt slice, so which tied row survives (and its
    payload columns) is nondeterministic and need not match an oracle's
    arbitrary choice (ADVICE r5). All bottom-k-over-hash callers pass
    distinct hashes; a caller ranking raw data should pass a unique key
    column (e.g. the row id) as the tiebreak.

    The shared kernel behind sketch_kmv_distinct / sketch_kmv_jaccard /
    build_inverted_index (one fix to salting or tie-handling lands in all)."""
    from pyspark.sql.window import Window

    order = [F.col(order_col), *(F.col(c) for c in tiebreak_cols or [])]
    salt = (F.col(salt_from or order_col) % salt_n).alias("__salt")
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(*order)
    survivors = (
        df.withColumn("__salt", salt)
        .withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= k)
        .drop("__salt", "__rn1")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return survivors.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= k
    )
