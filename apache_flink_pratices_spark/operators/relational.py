"""Relational core: filter/project/join/aggregate over the TPC-H-ish tables.

The reference's relational surface is small (map/filter/keyed reduce —
SURVEY.md §2.3/§2.4), but our engine is a superset by design: Spark's join +
aggregation family is exposed and exercised through TPC-H-shaped queries so
Catalyst's pushdown/pruning/join-selection paths are all covered.

Scale notes (100 TB stance), verified via ``.explain``:
- dimension joins (region/nation/customer/supplier/part) are explicitly
  ``broadcast()`` — no shuffle of the fact table for dim joins;
- aggregates are partial (map-side combine) by construction of ``groupBy``;
- date filters sit directly on the parquet scan (PushedFilters) and only the
  referenced columns are read (ReadSchema);
- every float aggregate uses the order-independent decimal-sum pattern from
  :mod:`apache_flink_pratices_spark.functions.numeric`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark.functions.numeric import (
    dsum,
    qlong,
    sql_dsum,
    sql_qavg,
    sql_qsum,
)
from apache_flink_pratices_spark.io import dim, load
from apache_flink_pratices_spark.registry import register

_REVENUE = "l_extendedprice * (1 - l_discount)"


#: quantization scales for Q1's columns — each input is an exact multiple
#: of 1/scale (TPC-H: quantity integral, price/discount/tax 2dp, so
#: revenue = 4dp and charge = 6dp products are exact), making the
#: scaled-int64 sums bit-identical to the decimal path (VERDICT r2 #6,
#: measured ~1.4x cheaper; see functions/numeric.py for the overflow-safe
#: two-stage design).
_Q1_SCALES = {
    "qty": 1,
    "price": 100,
    "disc": 100,
    "disc_price": 10_000,
    "charge": 1_000_000,
}


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_qsum('l_quantity', _Q1_SCALES['qty'])} AS sum_qty,
           {sql_qsum('l_extendedprice', _Q1_SCALES['price'])} AS sum_base_price,
           {sql_qsum(_REVENUE, _Q1_SCALES['disc_price'])} AS sum_disc_price,
           {sql_qsum(_REVENUE + ' * (1 + l_tax)', _Q1_SCALES['charge'])} AS sum_charge,
           {sql_qavg('l_quantity', _Q1_SCALES['qty'])} AS avg_qty,
           {sql_qavg('l_extendedprice', _Q1_SCALES['price'])} AS avg_price,
           {sql_qavg('l_discount', _Q1_SCALES['disc'])} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: scan-filter-aggregate (SURVEY §2.4 A1/A6 superset).",
    bench=True,
    tags=("relational", "aggregation"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage quantized aggregation: the heavy scan pass sums int64
    per (group, input partition) — overflow-free because an input split is
    bounded by ``maxPartitionBytes`` — and a second, tiny aggregation
    merges one partial row per (group, partition) exactly as decimal.
    All hot-path arithmetic stays on JVM longs; values are bit-identical
    to the previous all-decimal plan (and to DuckDB's HUGEINT sums)."""
    l = load(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = revenue * (1 + F.col("l_tax"))
    s = _Q1_SCALES
    partials = (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus", F.spark_partition_id().alias("__pid"))
        .agg(
            F.sum(qlong("l_quantity", s["qty"])).alias("p_qty"),
            F.sum(qlong("l_extendedprice", s["price"])).alias("p_price"),
            F.sum(qlong(revenue, s["disc_price"])).alias("p_disc_price"),
            F.sum(qlong(charge, s["charge"])).alias("p_charge"),
            F.sum(qlong("l_discount", s["disc"])).alias("p_disc"),
            F.count("*").alias("p_n"),
        )
    )

    def merged(pcol: str, scale: int):
        exact = F.sum(F.col(pcol).cast("decimal(38,0)"))  # exact partial merge
        return exact.cast("double") / F.lit(float(scale))

    n = F.sum("p_n")
    return partials.groupBy("l_returnflag", "l_linestatus").agg(
        merged("p_qty", s["qty"]).alias("sum_qty"),
        merged("p_price", s["price"]).alias("sum_base_price"),
        merged("p_disc_price", s["disc_price"]).alias("sum_disc_price"),
        merged("p_charge", s["charge"]).alias("sum_charge"),
        (merged("p_qty", s["qty"]) / n).alias("avg_qty"),
        (merged("p_price", s["price"]) / n).alias("avg_price"),
        (merged("p_disc", s["disc"]) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum(_REVENUE)} AS revenue,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate_us, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped join + top-N; join strategy left to AQE (customer scales with SF).",
    bench=True,
    tags=("relational", "join", "topn"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # customer grows with SF — no forced broadcast; AQE picks broadcast at
    # small SF from runtime stats and falls back to shuffle join at scale.
    # lineitem ⋈ orders is a shuffle join on l_orderkey (both fact tables).
    co = o.join(c, o.o_custkey == c.c_custkey)
    return (
        l.join(co, l.l_orderkey == co.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier",
    oracle=f"""
    SELECT n_name, {sql_dsum(_REVENUE)} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-shaped multi-join: fixed dims broadcast, SF-scaling joins left to AQE.",
    bench=True,
    tags=("relational", "join"),
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = dim(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = dim(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # supplier⋈nation⋈region collapses to one small broadcast dim. customer
    # scales with SF, so its join is left to AQE (broadcast at small SF,
    # shuffle at scale). Join ORDER (r14, guide §3.2): the broadcast dim
    # joins LINEITEM FIRST — the region filter drops ~4/5 of the fact rows
    # map-side before the fact⋈fact join, so the big join's left side is
    # the REDUCED lineitem (the static planner previously broadcast the
    # FULL lineitem scan for the l⋈co join — the fact table as build side,
    # backwards at any scale). The c_nationkey = s_nationkey condition
    # rides on the fact⋈fact join, where both keys are present.
    dims = s.join(n, s.s_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    co = o.join(c, o.o_custkey == c.c_custkey)
    l2 = l.join(F.broadcast(dims), l.l_suppkey == dims.s_suppkey)
    return (
        l2.join(
            co,
            (l2.l_orderkey == co.o_orderkey)
            & (co.c_nationkey == l2.s_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue, COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped pure scan-filter-agg; all predicates pushed to parquet.",
    tags=("relational", "filter"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"), F.count("*").alias("n"))
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-shaped EXISTS → left-semi join + aggregate.",
    tags=("relational", "semijoin"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    joined = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q_rollup_orders",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="Hierarchical rollup aggregation (superset op; SURVEY §2.4 'absent but exposed').",
    tags=("relational", "rollup"),
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"), dsum("o_totalprice").alias("total_price")
    )


@register(
    "q_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS uniq_users, COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    doc="Exact distinct aggregation per group (A6 counters analogue).",
    tags=("relational", "distinct"),
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("uniq_users"), F.count("*").alias("cnt")
    )


@register(
    "q_customer_order_profile",
    oracle=f"""
    SELECT c_custkey, c_mktsegment,
           COUNT(o_orderkey) AS n_orders,
           {sql_dsum('coalesce(o_totalprice, 0)')} AS total_spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    doc="Left-outer join preserving order-less customers (count 0, spend "
    "0): the outer-join + aggregate shape, one shuffle on custkey.",
    tags=("relational", "outerjoin"),
)
def q_customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("total_spend"),
        )
    )


@register(
    "q_cube_orders",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE aggregation over both grouping dimensions (all 4 grouping "
    "sets; complements q_rollup_orders).",
    tags=("relational", "cube"),
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"), dsum("o_totalprice").alias("total_price")
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum(_REVENUE)} AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10-shaped returned-item revenue top-20: selective return "
    "flag pushed to the lineitem scan, nation broadcast, sort-limit top-N.",
    tags=("relational", "join", "topn"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = dim(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT {sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             AS promo_revenue,
           {sql_dsum(_REVENUE)} AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    doc="TPC-H Q14-shaped promo revenue: conditional aggregation over a "
    "part join (part scales with SF — join strategy left to AQE).",
    tags=("relational", "join", "conditional_agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            dsum(promo).alias("promo_revenue"),
            dsum(revenue).alias("total_revenue"),
        )
    )


_STATUSES = ("F", "O", "P")


@register(
    "q_pivot_priority_by_status",
    oracle=f"""
    SELECT o_orderpriority,
           {", ".join(f"COUNT(CASE WHEN o_orderstatus = '{s}' THEN 1 END) AS status_{s}" for s in _STATUSES)}
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Pivot: order counts per priority spread across status columns "
    "(explicit value list keeps the output schema static — the form that "
    "scales, since pivot-value discovery needs an extra pass).",
    tags=("relational", "pivot"),
)
def q_pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .count()
    )
    cols = [F.col("o_orderpriority")] + [
        F.coalesce(F.col(s), F.lit(0)).alias(f"status_{s}") for s in _STATUSES
    ]
    return pivoted.select(*cols)


#: KMV sketch size (k minimum hash values per group)
KMV_K = 64
#: salt fan-out for the partial bottom-k stage: the stage-1 sort runs over
#: (event_type, h % KMV_SALT) groups, so parallelism is #keys × 256 and no
#: task ever sorts a whole key's hash set. Any member of a key's global
#: bottom-k is also in its salt group's bottom-k, so the merge stage sees
#: every needed hash among ≤ 256·k survivors per key.
KMV_SALT = 256
_MAX56F = float(1 << 56)


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)) AS BIGINT) AS h
      FROM events
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM hashed GROUP BY event_type
    ),
    partial AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type, h % {KMV_SALT}
                                ORDER BY h) AS rn1
      FROM hashed
    ),
    merged AS (
      SELECT p.event_type, p.h, e.n_exact,
             ROW_NUMBER() OVER (PARTITION BY p.event_type ORDER BY p.h) AS rn
      FROM partial p JOIN exact e ON p.event_type = e.event_type
      WHERE p.rn1 <= {KMV_K}
    )
    SELECT event_type,
           CAST(n_exact AS BIGINT) AS exact_distinct,
           CASE WHEN n_exact < {KMV_K} THEN CAST(n_exact AS DOUBLE)
                ELSE CAST({KMV_K - 1} AS DOUBLE) * {_MAX56F:.1f} / CAST(h AS DOUBLE)
           END AS kmv_estimate
    FROM merged
    WHERE rn = least(n_exact, {KMV_K})
      AND (n_exact < {KMV_K} OR rn = {KMV_K})
    """,
    doc=f"KMV (k-minimum-values, k={KMV_K}) distinct-count sketch over "
    "portable 56-bit hashes — unlike HLL, fully deterministic and "
    "bit-identical across engines, so the approximate estimate itself is "
    "oracle-checked. Mergeable two-stage bottom-k: stage 1 keeps each "
    f"(key, h % {KMV_SALT}) group's k smallest (parallelism = keys × "
    f"{KMV_SALT}, no global per-key sort); stage 2 merges the ≤ "
    f"{KMV_SALT}·k survivors per key. exact_distinct rides the scalable "
    "hash-agg count, not a sort.",
    tags=("sketch", "distinct"),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_flink_pratices_spark.functions.hashing import md5_long
    from apache_flink_pratices_spark.operators.skew import salted_bottom_k

    e = load(spark, sf_dir, "events")
    hashed = e.select(
        "event_type", md5_long(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    # exact count: plain two-stage hash aggregate — scales with partials
    exact = hashed.groupBy("event_type").agg(F.count("*").alias("n_exact"))
    # two-stage salted bottom-k: stage 1 sorts only (key, salt) slices,
    # stage 2 merges ≤ KMV_SALT·k survivors per key (shared kernel).
    # exact is #distinct-keys rows, broadcast by size.
    bottom = salted_bottom_k(hashed, ["event_type"], "h", KMV_K, KMV_SALT)
    merged = bottom.join(F.broadcast(exact), "event_type")
    est = F.when(
        F.col("n_exact") < KMV_K, F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(_MAX56F) / F.col("h").cast("double")
    )
    return (
        merged.filter(
            (F.col("rn") == F.least(F.col("n_exact"), F.lit(KMV_K)))
            & ((F.col("n_exact") < KMV_K) | (F.col("rn") == KMV_K))
        )
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("exact_distinct"),
            est.alias("kmv_estimate"),
        )
    )


# --- HyperLogLog distinct sketch -------------------------------------------

#: HLL geometry: p=10 -> m=1024 registers; the 56-bit portable hash splits
#: into a 10-bit bucket and a 46-bit tail whose trailing-zero run feeds the
#: register (Flajolet-Martin rho; statistically equivalent to the
#: leading-zero formulation). rho in [1, 47], 47 = all-zero tail.
HLL_M = 1024
_HLL_TAIL_BITS = 46
#: per-register denominator unit: 2^-rho expressed in exact 2^-47 units,
#: so the harmonic-mean denominator is an INTEGER sum (max m·2^47 = 2^57,
#: inside int64) — bit-identical across engines, unlike a float sum whose
#: value depends on accumulation order.
_HLL_UNIT_SHIFT = 47
#: alpha_m · m² · 2^47 for m=1024, as a literal both engines parse to the
#: same IEEE double; the estimate is this single constant over the integer
#: denominator — one correctly-rounded division, hash-stable.
_HLL_NUMERATOR = 0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * 2**_HLL_UNIT_SHIFT

_SQL_HLL_RHO = (
    f"CASE WHEN tail = 0 THEN {_HLL_TAIL_BITS + 1} "
    "ELSE CAST(round(log2(tail & -tail)) AS INTEGER) + 1 END"
)


@register(
    "sketch_hll_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)) AS BIGINT) AS h
      FROM events
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY event_type
    ),
    regs AS (
      SELECT event_type, bucket, MAX({_SQL_HLL_RHO}) AS rho
      FROM (SELECT event_type, h % {HLL_M} AS bucket, h // {HLL_M} AS tail FROM hashed)
      GROUP BY event_type, bucket
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
             CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_UNIT_SHIFT} - rho)) AS BIGINT)
               AS used_units
      FROM regs GROUP BY event_type
    )
    SELECT a.event_type, e.exact_distinct, a.n_buckets_used,
           a.used_units
             + ({HLL_M} - a.n_buckets_used) * CAST({2**_HLL_UNIT_SHIFT} AS BIGINT)
             AS denom_units,
           {_HLL_NUMERATOR!r} / CAST(a.used_units
             + ({HLL_M} - a.n_buckets_used) * CAST({2**_HLL_UNIT_SHIFT} AS BIGINT)
             AS DOUBLE) AS hll_estimate
    FROM agg a JOIN exact e ON e.event_type = a.event_type
    """,
    doc=f"HyperLogLog distinct-count sketch (m={HLL_M}) over portable "
    "56-bit hashes, fully deterministic and bit-identical across engines: "
    "registers are MAX-merged per (key, bucket) — a two-stage hash "
    "aggregate with map-side combine, the textbook mergeable-sketch plan "
    "(register arrays merge with elementwise MAX across partitions, "
    "streams, or days) — and the harmonic-mean denominator is summed as "
    "exact integer 2^-47 units so no float accumulation order can leak "
    "into the estimate. The raw estimator only (no small-range linear-"
    "counting branch: it needs ln(), whose libm rounding differs across "
    "engines); exact_distinct rides a separate hash-agg count for the "
    "accuracy comparison; consumers apply the correction client-side from "
    "the emitted state: m*ln(m/(m - n_buckets_used)) when the raw "
    "estimate is under 2.5m — see tests/test_hll.py. At 100 TB state is "
    "m registers per key — bytes — versus KMV's k hashes; both shuffle "
    "only (key, bucket, rho).",
    tags=("sketch", "distinct", "hll"),
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_flink_pratices_spark.functions.hashing import md5_long

    e = load(spark, sf_dir, "events")
    hashed = e.select(
        "event_type", md5_long(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    exact = hashed.groupBy("event_type").agg(
        F.count("*").alias("exact_distinct")
    )
    split = hashed.select(
        "event_type",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("tail"),
    )
    regs = split.groupBy("event_type", "bucket").agg(
        F.max(F.expr(_SQL_HLL_RHO)).alias("rho")
    )
    agg = regs.groupBy("event_type").agg(
        F.count("*").alias("n_buckets_used"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_UNIT_SHIFT} - rho)")
        ).alias("used_units"),
    )
    denom = F.col("used_units") + (F.lit(HLL_M) - F.col("n_buckets_used")) * F.lit(
        2**_HLL_UNIT_SHIFT
    )
    return agg.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "exact_distinct",
        "n_buckets_used",
        denom.alias("denom_units"),
        (F.lit(_HLL_NUMERATOR) / denom.cast("double")).alias("hll_estimate"),
    )


@register(
    "q_top_customers_per_segment",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn
    FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer)
    WHERE rn <= 3
    """,
    doc="Per-group top-N via window rank (deterministic tiebreak on key).",
    tags=("relational", "window_fn"),
)
def q_top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


#: discrete quantiles computed exactly: p/100 percentages, integer-exact
QUANTILE_P100 = (50, 90, 99)


@register(
    "q_price_quantiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.50) AS p50,
           quantile_disc(o_totalprice, 0.90) AS p90,
           quantile_disc(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Exact per-group discrete quantiles (SQL-standard percentile_disc "
    "semantics: smallest value whose cumulative distribution reaches p) "
    "without holding any group's values in one aggregation buffer — the "
    "trap in the built-in exact percentile, whose per-group state is "
    "O(group size). This plan compresses to (group, distinct value, "
    "count) first (map-side combinable), then one keyed window builds "
    "cumulative counts and a threshold pick selects each quantile. The "
    "p-comparison is integer arithmetic (cum*100 >= p100*n), immune to "
    "float-rounding disagreement between engines. The oracle is DuckDB's "
    "native quantile_disc — an independent implementation, not a mirror. "
    "Window parallelism is bounded by group count (5 priorities here — a "
    "data property); at 100 TB with high-cardinality groups the same "
    "plan spreads across the cluster by the group key.",
    tags=("relational", "quantiles", "window_fn"),
)
def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    counts = o.groupBy("o_orderpriority", "o_totalprice").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = counts.select(
        "*",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    aggs = [
        F.min(
            F.when(F.col("cum") * 100 >= p100 * F.col("n"), F.col("o_totalprice"))
        ).alias(f"p{p100}")
        for p100 in QUANTILE_P100
    ]
    return ranked.groupBy("o_orderpriority").agg(*aggs)


@register(
    "q7_nation_pair_revenue",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           {sql_dsum(_REVENUE)} AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7-shaped cross-nation trade flow: revenue between every "
    "(supplier nation, customer nation) pair per order year. The two "
    "nation lookups and supplier are fixed-size broadcast dims; the only "
    "shuffle joins are the SF-scaling lineitem ⋈ orders ⋈ customer "
    "chain, left to AQE. The non-equi pair filter (supp <> cust) rides "
    "on broadcast-resolved columns — never a nested-loop join.",
    tags=("relational", "join"),
)
def q7_nation_pair_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    sn = dim(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = dim(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = dim(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    supp_side = s.join(sn, s.s_nationkey == sn.sn_key)
    cust_side = c.join(cn, c.c_nationkey == cn.cn_key)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust_side, o.o_custkey == cust_side.c_custkey)
        .join(F.broadcast(supp_side), l.l_suppkey == supp_side.s_suppkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(revenue).alias("revenue"))
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum(_REVENUE)} AS revenue, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19-shaped disjunctive join filter: three OR'd "
    "(brand, quantity-range) branches across both join sides. Catalyst "
    "extracts the per-side implications (brand IN (...) on part, "
    "quantity BETWEEN 1 AND 30 on lineitem) and pushes them into the "
    "scans, so both inputs shrink before the equi-join on partkey; the "
    "full disjunction then filters post-join. part scales with SF — its "
    "join is AQE-selected, not force-broadcast.",
    tags=("relational", "filter", "join"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#12") & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & q.between(20, 30))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(dsum(revenue).alias("revenue"), F.count("*").alias("n"))
    )


@register(
    "q16_supplier_variety",
    oracle="""
    SELECT p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
    WHERE p_size IN (1, 9, 19, 29, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_type, p_size
    """,
    doc="TPC-H Q16-shaped supplier variety: distinct suppliers per "
    "(type, size) slice, excluding a supplier blacklist. The blacklist "
    "is dimension-sized, so the NOT IN becomes a broadcast anti-join — "
    "no shuffle added; p_size IN (...) prunes part before its join; the "
    "count-distinct is Spark's two-stage partial-distinct aggregate.",
    tags=("relational", "join", "anti_join"),
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 9, 19, 29, 49)
    ).select("p_partkey", "p_type", "p_size")
    bad = dim(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    return (
        l.join(bad, l.l_suppkey == bad.bad_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --- count-min sketch heavy hitters -----------------------------------------

from apache_flink_pratices_spark.functions.hashing import sql_md5_long  # noqa: E402
from apache_flink_pratices_spark.operators.dedup import P31  # noqa: E402

#: CMS geometry: depth (independent hash rows) × width (cells per row).
#: Error bound: est - true <= N * e/width with prob 1 - (1/e)^depth — at
#: any corpus size the sketch stays depth*width counters, mergeable by
#: cell-wise addition across partitions, executors, or days of data.
CMS_DEPTH = 4
CMS_WIDTH = 1024
#: heavy-hitter candidates probed against the sketch
CMS_CANDIDATES = 10


def _cms_coeffs() -> list[tuple[int, int]]:
    import hashlib

    out = []
    for j in range(CMS_DEPTH):
        d = hashlib.md5(f"afp-cms-{j}".encode()).digest()
        a = int.from_bytes(d[:4], "big") % (P31 - 1) + 1
        b = int.from_bytes(d[4:8], "big") % P31
        out.append((a, b))
    return out


CMS_COEFFS = _cms_coeffs()


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH hashed AS (
      SELECT ({sql_md5_long("CAST(user_id AS VARCHAR)")}) % {P31} AS hm, user_id
      FROM events
    ),
    cells AS (
      {" UNION ALL ".join(
          f"SELECT {j} AS j, (({a} * hm + {b}) % {P31}) % {CMS_WIDTH} AS cell, user_id FROM hashed"
          for j, (a, b) in enumerate(CMS_COEFFS)
      )}
    ),
    sketch AS (
      SELECT j, cell, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cells GROUP BY j, cell
    ),
    cand_cells AS (
      SELECT DISTINCT j, cell, user_id FROM cells WHERE user_id < {CMS_CANDIDATES}
    ),
    est AS (
      SELECT c.user_id, MIN(s.cnt) AS cms_estimate
      FROM cand_cells c JOIN sketch s ON s.j = c.j AND s.cell = c.cell
      GROUP BY c.user_id
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events WHERE user_id < {CMS_CANDIDATES} GROUP BY user_id
    )
    SELECT e.user_id, est.cms_estimate, e.exact_cnt
    FROM exact e JOIN est ON est.user_id = e.user_id
    """,
    doc=f"Count-min sketch heavy hitters: a {CMS_DEPTH}x{CMS_WIDTH} "
    "counter sketch over events.user_id built in ONE map-side-combinable "
    "groupBy (the shuffle carries at most depth*width occupied cells per "
    "partition — fixed size at ANY corpus scale, and cell-wise additive, "
    "so per-day/per-partition sketches merge by summing). Candidate "
    "frequencies are then estimated as the min over each candidate's "
    f"{CMS_DEPTH} cells and emitted next to the exact count, so the "
    "one-sided overestimate guarantee (est >= exact) is visible in the "
    "gate-checked output. Same universal-hash family as the MinHash/KMV "
    "tiers — exact integer arithmetic, bit-identical across engines.",
    tags=("sketch", "events", "heavy_hitters"),
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_flink_pratices_spark.functions.hashing import md5_long

    e = load(spark, sf_dir, "events").select(
        "user_id",
        (md5_long(F.col("user_id").cast("string")) % P31).alias("hm"),
    )
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (((F.lit(a) * F.col("hm") + F.lit(b)) % P31) % CMS_WIDTH).alias(
                    "cell"
                ),
            )
            for j, (a, b) in enumerate(CMS_COEFFS)
        ]
    )
    cells = e.select("user_id", F.explode(cell_structs).alias("c")).select(
        "user_id", "c.j", "c.cell"
    )
    sketch = cells.groupBy("j", "cell").agg(F.count("*").alias("cnt"))
    cand_cells = cells.filter(F.col("user_id") < CMS_CANDIDATES).distinct()
    est = (
        sketch.join(F.broadcast(cand_cells), ["j", "cell"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    exact = (
        e.filter(F.col("user_id") < CMS_CANDIDATES)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
    )
    return exact.join(est, "user_id").select("user_id", "cms_estimate", "exact_cnt")


# --- histogram quantile sketch ----------------------------------------------

#: Fixed-bucket histogram geometry for the quantile sketch: $1000-wide
#: buckets in exact integer cents. The sketch is |buckets| counters per key
#: regardless of row count — additive across partitions/executors/days —
#: and every step (bucketing, cumulation, rank targets) is exact integer
#: arithmetic, so the estimate is bit-identical across engines. Error is
#: bounded by the bucket width (estimates snap to a bucket's lower edge);
#: the exact-quantile path (q_price_quantiles) is the no-error alternative
#: when a full shuffle of distinct values is acceptable.
HISTO_WIDTH_CENTS = 100_000


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
    WITH hist AS (
      SELECT o_orderpriority AS priority,
             CAST(ROUND(o_totalprice * 100.0) AS BIGINT) // {HISTO_WIDTH_CENTS}
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT priority, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY priority ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY priority) AS n
      FROM hist
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN bucket END)
                * {HISTO_WIDTH_CENTS} AS DOUBLE) / 100.0 AS p50_est,
           CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN bucket END)
                * {HISTO_WIDTH_CENTS} AS DOUBLE) / 100.0 AS p90_est,
           CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket END)
                * {HISTO_WIDTH_CENTS} AS DOUBLE) / 100.0 AS p99_est
    FROM cum
    GROUP BY priority, n
    """,
    doc="Mergeable histogram quantile sketch (the deterministic stand-in "
    "for t-digest/KLL, whose buffers are order-sensitive and so not "
    "cross-engine-checkable): fixed $1000 buckets in exact integer cents, "
    "one groupBy to |keys|x|buckets| counters (map-side combined, "
    "additive merge), then a per-key cumulative walk over the BOUNDED "
    "bucket axis — never over rows — picks the bucket where the integer "
    "rank target ceil(q*n) lands. Estimates snap to bucket lower edges; "
    "completes the sketch family (KMV/HLL distinct, CMS heavy hitters, "
    "histogram quantiles).",
    tags=("relational", "sketch", "quantiles"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    hist = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.expr(
                f"CAST(ROUND(o_totalprice * 100.0) AS BIGINT) div {HISTO_WIDTH_CENTS}"
            ).alias("bucket"),
        )
        .groupBy("priority", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("priority")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("priority"))
    )

    def pick(target_expr: str) -> F.Column:
        return (
            F.min(F.when(F.col("cum") >= F.expr(target_expr), F.col("bucket")))
            * HISTO_WIDTH_CENTS
        ).cast("double") / 100.0

    return (
        cum.groupBy("priority", "n")
        .agg(
            pick("(n + 1) div 2").alias("p50_est"),
            pick("(9 * n + 9) div 10").alias("p90_est"),
            pick("(99 * n + 99) div 100").alias("p99_est"),
        )
        .select("priority", "n", "p50_est", "p90_est", "p99_est")
    )


# --- Q8-shaped market share & LAG momentum ----------------------------------


@register(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           {sql_qsum("CASE WHEN n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 10_000)}
             / {sql_qsum('l_extendedprice * (1 - l_discount)', 10_000)} AS mkt_share
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY YEAR(o_orderdate)
    """,
    doc="TPC-H Q8-shaped market share: one nation's revenue share within "
    "its region per order year — a conditional aggregate divided by the "
    "group total, both computed in ONE aggregation pass (no self-join, "
    "no second scan). nation ⋈ region collapses to a broadcast dim "
    "filter; customer is SF-scaling so its join is AQE-selected; both "
    "quantized sums are exact, so the share is one deterministic double "
    "division per group.",
    tags=("relational", "conditional_agg", "join"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = dim(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = dim(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    asia_nations = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = F.when(F.col("n_name") == "NATION_3", rev).otherwise(F.lit(0.0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(asia_nations, c.c_nationkey == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(qlong(national, 10_000)).cast("double") / 10_000.0
                / (F.sum(qlong(rev, 10_000)).cast("double") / 10_000.0)
            ).alias("mkt_share")
        )
    )


@register(
    "q_daily_momentum",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(epoch_us(DATE_TRUNC('day', ts)) AS BIGINT) AS day_us,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_us, n,
           n - LAG(n) OVER (PARTITION BY event_type ORDER BY day_us) AS dod
    FROM d
    """,
    doc="Day-over-day momentum: daily counts per event type with a LAG "
    "window delta (NULL on each key's first day). The window runs over "
    "the aggregated |types|x|days| rows, never raw events; partitioning "
    "by event_type keeps each sort local to a key's bounded day axis. "
    "Day buckets use epoch-aligned F.window starts (UTC, tz-independent) "
    "emitted as unix_micros, matching the suite's window convention.",
    tags=("relational", "window_fn", "events"),
)
def q_daily_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select("event_type", "ts")
    d = e.groupBy(
        "event_type",
        F.unix_micros(F.window("ts", "1 day").start).alias("day_us"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day_us")
    return d.withColumn("dod", F.col("n") - F.lag("n").over(w))


@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum("l_extendedprice * (1 - l_discount) - 0.8 * p_retailprice * l_quantity")} AS profit
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9-shaped product-type profit by (nation, order year). The "
    "schema has no partsupp, so supply cost is proxied as 80% of "
    "p_retailprice (adaptation noted; plan pattern is the point): a "
    "5-way star join where the name-filtered part side and the "
    "supplier->nation dim chain attach without shuffling the fact table "
    "more than once, then an expression aggregate on a derived profit "
    "term. Catalyst/AQE pick the part join strategy from the filtered "
    "size (~1/8 of parts) - no forced broadcast, so the plan stays legal "
    "when part scales to hundreds of millions of rows.",
    bench=True,
    tags=("relational", "starjoin"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    s = dim(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = dim(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        - F.lit(0.8) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit).alias("profit"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum(_REVENUE)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15-shaped top supplier: quarterly per-supplier revenue "
    "(date filter pushed to the scan), then the scalar MAX re-joined as a "
    "1-row broadcast filter - the view-plus-scalar-subquery pattern. The "
    "revenue aggregate is computed once and reused for both the scalar "
    "and the output (cheap reuse; each side is post-aggregation size). "
    "Revenue uses the exact decimal sum, so the equality against MAX is "
    "deterministic across engines.",
    tags=("relational", "scalar-subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = dim(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


#: orders columns profiled by profile_orders_columns: (name, kind)
_PROFILE_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            mn = f"CAST(epoch_us(MIN({c})) AS DOUBLE)"
            mx = f"CAST(epoch_us(MAX({c})) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"MIN({c})", f"MAX({c})"
        parts.append(
            f"SELECT '{c}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, {ms} AS min_str, {xs} AS max_str "
            "FROM orders"
        )
    return " UNION ALL ".join(parts)


@register(
    "profile_orders_columns",
    oracle=_profile_oracle(),
    doc="Single-scan data profiling of the orders table: per column, row "
    "count, null count, EXACT distinct count, and typed min/max (numerics "
    "and timestamps as double - epoch micros for timestamps, exact below "
    "2^53 - strings as strings). All metrics compute in ONE aggregate over "
    "one scan (Spark's Expand handles the multi-distinct), then unpivot "
    "via stack - the profile-your-corpus-before-training step, where a "
    "second scan of 100 TB is the cost that matters. The oracle UNION "
    "ALLs per-column aggregates (DuckDB may rescan; only the engine under "
    "test needs the one-scan plan).",
    tags=("relational", "profiling"),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append((F.count("*") - F.count(c)).cast("long").alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).cast("long").alias(f"{c}__dist"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"{c}__min_num"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max_num"))
        elif kind == "ts":
            aggs.append(F.unix_micros(F.min(c)).cast("double").alias(f"{c}__min_num"))
            aggs.append(F.unix_micros(F.max(c)).cast("double").alias(f"{c}__max_num"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"{c}__min_str"))
            aggs.append(F.max(c).cast("string").alias(f"{c}__max_str"))
    row = o.agg(*aggs)
    stacks = []
    for c, kind in _PROFILE_COLS:
        if kind in ("num", "ts"):
            mn, mx = f"{c}__min_num", f"{c}__max_num"
            ms, xs = "CAST(NULL AS STRING)", "CAST(NULL AS STRING)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"{c}__min_str", f"{c}__max_str"
        stacks.append(f"'{c}', {c}__nulls, {c}__dist, {mn}, {mx}, {ms}, {xs}")
    return row.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {', '.join(stacks)}) AS "
        "(column_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)",
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


@register(
    "q12_late_ship_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape (the one fact-fact plan pattern previously "
    "missing from the family): shipping-delay class counts — lines "
    "shipped >=60 days after their order date, split into high/low "
    "priority via dual conditional SUMs in one aggregation. The driver's "
    "lineitem has no shipmode/commit/receipt columns, so the delay "
    "predicate adapts Q12's lateness filter to l_shipdate vs "
    "o_orderdate (the same cross-table comparison Q4 uses); the plan "
    "skeleton is Q12's: orderkey equi-join, non-pushable cross-table "
    "filter, CASE-based conditional aggregation with map-side combine, "
    "2-row output.",
    tags=("relational", "tpch"),
)
def q12_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
    )


@register(
    "q20_dominant_suppliers",
    oracle="""
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    per_ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem JOIN red_parts ON p_partkey = l_partkey
      GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
      SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total
      FROM per_ps GROUP BY l_partkey
    ),
    dominant AS (
      SELECT DISTINCT p.l_suppkey
      FROM per_ps p JOIN tot t ON p.l_partkey = t.l_partkey
      WHERE p.qty * 25 > t.total * 3
    )
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
    doc="TPC-H Q20 shape (nested semi-join chain), adapted to the "
    "driver's schema (no partsupp: availability is restated as shipped "
    "share): suppliers shipping >12% of any red part's total quantity. "
    "Plan skeleton is Q20's — dimension filter, per-(part,supplier) "
    "aggregate, correlated per-part threshold (>12% share; here a "
    "reused-exchange self-aggregate instead of a correlated subquery), "
    "then a semi-join into supplier. Quantity sums use exact int64 "
    "(quantities are "
    "integral; floor() pins the double->int conversion identically in "
    "both engines). The share comparison is integer cross-multiplication "
    "- no division, no floats anywhere.",
    tags=("relational", "tpch", "subquery"),
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    per_ps = (
        l.join(F.broadcast(red), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("qty")
        )
    )
    tot = per_ps.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("total")
    )
    dominant = (
        per_ps.join(tot, "l_partkey")
        .filter(F.col("qty") * 25 > F.col("total") * 3)
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    return s.join(
        dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name", "s_acctbal")


@register(
    "q_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             -- CAST: DuckDB's date_trunc('day') yields DATE; Spark's
             -- yields TIMESTAMP — align the hashed schema
             CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             f.cohort_day,
             CAST(date_diff('day', f.cohort_day,
                            date_trunc('day', e.ts)) AS BIGINT)
               AS day_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_day, day_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM activity
    GROUP BY cohort_day, day_offset
    """,
    doc="Retention-cohort analysis: users grouped by first-seen day, "
    "then the distinct-active-user count per (cohort, day offset) — "
    "the standard product-analytics retention matrix, and the shape a "
    "training-data pipeline reuses for contributor/source freshness "
    "curves. Both aggregations key on user_id, so the first-seen "
    "aggregate, its join back to events, and the per-user distinct all "
    "share ONE user_id shuffle (AQE exchange reuse); only the final "
    "dimension-sized (cohort x offset) rollup re-keys. The distinct "
    "before the count collapses per-user-week duplicates map-side, so "
    "the final shuffle carries at most |users|x|weeks| rows regardless "
    "of per-user event volume.",
    tags=("relational", "events", "cohort"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count("*").alias("active_users")
    )


# --- order-insensitive table checksum ----------------------------------------
@register(
    "table_checksum",
    oracle=f"""
    WITH h AS (
      SELECT {sql_md5_long(
          "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
          "o_orderstatus, CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS VARCHAR), "
          "CAST(CAST(o_orderdate AS DATE) AS VARCHAR), o_orderpriority)"
      )} AS rh
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh) % 9007199254740881 AS BIGINT) AS checksum,
           CAST(MIN(rh) AS BIGINT) AS min_rh,
           CAST(MAX(rh) AS BIGINT) AS max_rh
    FROM h
    """,
    doc="Order-insensitive whole-table checksum — the integrity audit a "
    "100 TB migration/backfill runs on both sides of a copy (the same "
    "role as the driver's own value-hash gate, expressed as an engine "
    "operator): each row folds to a portable md5-derived 56-bit hash of "
    "its canonical string form (dates ISO, floats cents-quantized to "
    "int64 first — raw double-to-string rendering diverges between "
    "engines past 1e7), and the table reduces to (count, "
    "mod-prime hash sum, min, max). Map-only + one single-row aggregate "
    "— no shuffle of data rows at any size, partial sums combine "
    "map-side, and the sum is order-independent by construction so "
    "partitioning/parallelism cannot change the answer. The string "
    "canonicalization (dates as ISO, numerics via engine-identical "
    "casts) is the contract both engines evaluate verbatim.",
    tags=("relational", "integrity", "checksum"),
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_flink_pratices_spark.functions.hashing import md5_long

    o = load(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        qlong(F.col("o_totalprice"), 100).cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    rh = md5_long(row_str)
    return o.select(rh.alias("rh")).agg(
        F.count("*").alias("n_rows"),
        (F.sum(F.col("rh").cast("decimal(38,0)")) % F.lit(9007199254740881))
        .cast("long")
        .alias("checksum"),
        F.min("rh").alias("min_rh"),
        F.max("rh").alias("max_rh"),
    )
