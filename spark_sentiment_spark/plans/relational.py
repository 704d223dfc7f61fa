"""Relational operator coverage over the TPC-H-ish tables.

The reference's own relational surface is thin (single-key groupBy, one
null-safe join — SURVEY §2.3-2.5); these queries declare the full relational
extension surface (joins of every flavor, multi-key/rollup/cube aggregation,
window functions, sorts/top-k, set ops) as first-class engine operators.

Scale notes: every join below either broadcasts a dimension (nation, region,
customer at small SF — AQE decides via size stats) or shuffles on the join
key; aggregations are partial+final hash aggs; windows shuffle once on the
partition key. Filters sit directly on the scans so Catalyst pushes them into
parquet (verified via .explain in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist,
                                                  track_staging_dir,
                                                  track_temp_table)

# --- TPC-H-style aggregations ----------------------------------------------

# Money sums in this module are EXACT fixed-point (one fix for the class):
# the fixture's prices/discounts/taxes are exact 2-dp decimals, so each
# row's disc_price is an exact 4-dp and charge an exact 6-dp decimal —
# per-row decimal/integer quantization followed by an exact sum makes
# group totals order-INDEPENDENT. The old round(sum(double), 2) was
# order-sensitive: a ~2.8e9 total accumulates ~1e-4 of summation-order
# noise, and when the true total sits within that band of a half-cent
# the two engines round a cent apart (hit once by a full-catalog
# sf0.1 sweep in q1, with q5 measured 6.4e-4 from its
# boundary and one q3 order-group landing EXACTLY on one — ~3% odds per
# 1e9-scale group). q1 uses explicit integer scaling (DuckDB sums to
# HUGEINT, Spark to DECIMAL(38,0)); the other money queries use the
# DECIMAL(27,s) per-row cast idiom tpch_shapes.py adopted in earlier
# rounds (q7/q9/q14/q15/q19/q20) — this module lagged that conversion.
# The exact total converts to double losslessly at the 11-12
# significant digits a cents value needs. o_totalprice/acctbal sums
# stay plain doubles: their measured boundary distances are 0.49-0.5
# (totals land mid-cell at every fixture SF) and their magnitudes keep
# noise orders below a half-cent; the ordered running-total window is
# inherently order-pinned on both engines.
Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                AS sum_qty,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100, 2)                          AS sum_base_price,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) AS DOUBLE) / 10000, 2)   AS sum_disc_price,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 1000000)
                           AS BIGINT)) AS DOUBLE) / 1000000, 2) AS sum_charge,
       round(avg(l_quantity), 6)                                AS avg_qty,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(*), 6)               AS avg_price,
       round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(*), 6)               AS avg_disc,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", sql=Q1_SQL, bench=True, tags=("agg",))
def q1_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))

    def fp_sum(col, scale):
        # per-row exact fixed-point, summed as DECIMAL(38,0) (exact,
        # overflow-safe at any SF), back to double for the cents value
        return (F.sum(F.round(col * scale).cast("decimal(38,0)"))
                .cast("double") / scale)

    cnt = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(fp_sum(F.col("l_extendedprice"), 100), 2)
            .alias("sum_base_price"),
            F.round(fp_sum(disc_price, 10_000), 2).alias("sum_disc_price"),
            F.round(fp_sum(charge, 1_000_000), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(fp_sum(F.col("l_extendedprice"), 100) / cnt, 6)
            .alias("avg_price"),
            F.round(fp_sum(F.col("l_discount"), 100) / cnt, 6)
            .alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q3_SQL = """
SELECT l_orderkey,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))),
             2)::DOUBLE AS revenue,
       strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-30'
  AND l_shipdate  > TIMESTAMP '1997-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", sql=Q3_SQL, bench=True, tags=("join", "agg"))
def q3_shipping_priority(spark, sf_dir):
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-06-30").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(27,4)")), 2)
             .cast("double").alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q5_SQL = """
SELECT n_name,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))),
             2)::DOUBLE AS revenue
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
ORDER BY revenue DESC, n_name
"""


@register("q5_local_supplier", sql=Q5_SQL, bench=True, tags=("join", "agg"))
def q5_local_supplier(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(27,4)")), 2)
             .cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q6_SQL = """
SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,4))),
             2)::DOUBLE AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", sql=Q6_SQL, bench=True, tags=("agg", "filter"))
def q6_forecast_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                           .cast("decimal(27,4)")), 2)
             .cast("double").alias("revenue"))
    )


Q10_SQL = """
SELECT c_custkey, c_name,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))),
             2)::DOUBLE AS revenue,
       round(any_value(c_acctbal), 2) AS acctbal
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", sql=Q10_SQL, bench=True, tags=("join", "agg"))
def q10_returned_items(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum((F.col("l_extendedprice")
                           * (1 - F.col("l_discount")))
                          .cast("decimal(27,4)")), 2)
            .cast("double").alias("revenue"),
            F.round(F.any_value(F.col("c_acctbal")), 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --- Join flavors -----------------------------------------------------------

SEMI_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("join_semi", sql=SEMI_SQL, tags=("join",))
def join_semi(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


ANTI_SQL = """
SELECT count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@register("join_anti", sql=ANTI_SQL, tags=("join",))
def join_anti(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


LEFT_SQL = """
SELECT n_name, count(o_orderkey) AS n_orders
FROM nation
LEFT JOIN customer ON c_nationkey = n_nationkey
LEFT JOIN orders   ON o_custkey = c_custkey
GROUP BY n_name
ORDER BY n_name
"""


@register("join_left_outer", sql=LEFT_SQL, tags=("join",))
def join_left_outer(spark, sf_dir):
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("n_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("n_name")
    )


NULLSAFE_SQL = """
SELECT count(*) AS n_rows
FROM orders a
JOIN orders b ON a.o_custkey IS NOT DISTINCT FROM b.o_custkey
            AND a.o_orderkey = b.o_orderkey
"""


@register("join_null_safe", sql=NULLSAFE_SQL, tags=("join",))
def join_null_safe(spark, sf_dir):
    """The reference's J1: null-safe equi-join (<=>), SRC/TrainingSet.scala:51
    — intended multi-source alignment semantics (dead code there, live here).
    """
    a = load(spark, sf_dir, "orders").alias("a")
    b = load(spark, sf_dir, "orders").alias("b")
    return (
        a.join(b, F.col("a.o_custkey").eqNullSafe(F.col("b.o_custkey"))
               & (F.col("a.o_orderkey") == F.col("b.o_orderkey")))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# --- Aggregation shapes -----------------------------------------------------

ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register("agg_rollup", sql=ROLLUP_SQL, tags=("agg",))
def agg_rollup(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(F.asc_nulls_first("o_orderstatus"),
                 F.asc_nulls_first("o_orderpriority"))
    )


CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_cube", sql=CUBE_SQL, tags=("agg",))
def agg_cube(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy(F.asc_nulls_first("l_returnflag"),
                 F.asc_nulls_first("l_linestatus"))
    )


STATS_SQL = """
SELECT count(*)                                   AS n_rows,
       CAST(count(DISTINCT l_partkey) AS BIGINT)  AS n_parts,
       round(sum(CAST(l_extendedprice AS DECIMAL(27,2))), 2)::DOUBLE
                                                  AS sum_price,
       round(sum(CAST(l_extendedprice AS DECIMAL(27,2)))::DOUBLE
             / count(*), 6)                       AS avg_price,
       round(min(l_extendedprice), 2)             AS min_price,
       round(max(l_extendedprice), 2)             AS max_price,
       round(stddev_samp(l_extendedprice), 4)     AS sd_price
FROM lineitem
"""


@register("agg_global_stats", sql=STATS_SQL, tags=("agg",))
def agg_global_stats(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(27,2)")), 2)
        .cast("double").alias("sum_price"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(27,2)"))
                .cast("double") / F.count(F.lit(1)), 6).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
    )


HAVING_SQL = """
SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
FROM lineitem
GROUP BY l_suppkey
HAVING sum(l_quantity) > 14000
ORDER BY l_suppkey
"""


@register("agg_having", sql=HAVING_SQL, tags=("agg",))
def agg_having(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 14000)
        .select("l_suppkey", F.round("_q", 2).alias("total_qty"))
        .orderBy("l_suppkey")
    )


BUCKET_SQL = """
SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
            WHEN o_totalprice < 300000 THEN 'mid'
            ELSE 'high' END AS band,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY 1
ORDER BY band
"""


@register("agg_case_bucket", sql=BUCKET_SQL, tags=("agg", "scalar"))
def agg_case_bucket(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high")
    )
    return (
        orders.groupBy(band.alias("band"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("band")
    )


DATE_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT)  AS y,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY 1, 2
ORDER BY y, m
"""


@register("agg_by_month", sql=DATE_SQL, tags=("agg", "scalar"))
def agg_by_month(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("y", "m")
    )


# --- Window functions -------------------------------------------------------

WTOPK_SQL = """
SELECT o_orderstatus, o_orderkey, round(o_totalprice, 2) AS totalprice,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
ORDER BY o_orderstatus, rn
"""


@register("window_topk_per_group", sql=WTOPK_SQL, tags=("window",))
def window_topk_per_group(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_orderstatus", "o_orderkey",
                F.round("o_totalprice", 2).alias("totalprice"), "rn")
        .orderBy("o_orderstatus", "rn")
    )


WRUN_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
"""


@register("window_running_sum", sql=WRUN_SQL, bench=True, tags=("window",))
def window_running_sum(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WLAG_SQL = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice - lag(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta
FROM orders
ORDER BY o_custkey, o_orderkey
"""


@register("window_lag_delta", sql=WLAG_SQL, tags=("window",))
def window_lag_delta(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey", "o_orderkey",
            F.round(
                F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
            ).alias("delta"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


RANKDENSE_SQL = """
SELECT p_brand, p_partkey,
       CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rnk,
       CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS BIGINT)       AS drnk,
       round(p_retailprice - max(p_retailprice) OVER (PARTITION BY p_brand), 4)       AS price_vs_brand
FROM part
ORDER BY p_brand, p_partkey
"""


@register("window_rank_mix", sql=RANKDENSE_SQL, tags=("window",))
def window_rank_mix(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    wr = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"),
                                               F.asc("p_partkey"))
    wd = Window.partitionBy("p_brand").orderBy("p_size")
    wa = Window.partitionBy("p_brand")
    return (
        part.select(
            "p_brand", "p_partkey",
            F.rank().over(wr).cast("long").alias("rnk"),
            F.dense_rank().over(wd).cast("long").alias("drnk"),
            # max, not avg: a windowed average's float-summation order is
            # engine-specific and can flip the last rounded decimal; max
            # returns an input value, so the difference is bit-exact.
            F.round(
                F.col("p_retailprice") - F.max("p_retailprice").over(wa), 4
            ).alias("price_vs_brand"),
        )
        .orderBy("p_brand", "p_partkey")
    )


# --- Sorts / limits / set ops ----------------------------------------------

TOPK_SQL = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
"""


@register("sort_topk_global", sql=TOPK_SQL, bench=True, tags=("sort",))
def sort_topk_global(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber",
                  F.round("l_extendedprice", 2).alias("price"))
        .orderBy(F.desc("price"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


UNION_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  UNION
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
"""


@register("set_union", sql=UNION_SQL, tags=("setop",))
def set_union(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.union(o).distinct().agg(F.count(F.lit(1)).alias("n"))


INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
ORDER BY o_custkey
"""


@register("set_intersect", sql=INTERSECT_SQL, tags=("setop",))
def set_intersect(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    p = orders.where(F.col("o_orderstatus") == "P").select("o_custkey")
    return f.intersect(p).orderBy("o_custkey")


EXCEPT_SQL = """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey FROM orders
ORDER BY c_custkey
"""


@register("set_except", sql=EXCEPT_SQL, tags=("setop",))
def set_except(spark, sf_dir):
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.exceptAll(orders).distinct().orderBy("c_custkey")


DISTINCT_SQL = """
SELECT DISTINCT c_mktsegment, c_nationkey
FROM customer
ORDER BY c_mktsegment, c_nationkey
"""


@register("distinct_pairs", sql=DISTINCT_SQL, tags=("setop",))
def distinct_pairs(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    return (cust.select("c_mktsegment", "c_nationkey").distinct()
            .orderBy("c_mktsegment", "c_nationkey"))


# --- Scalar function coverage ----------------------------------------------

STRING_SQL = """
SELECT upper(p_brand)                    AS brand_uc,
       CAST(length(p_name) AS BIGINT)    AS name_len,
       substr(p_type, 1, 5)              AS type_prefix,
       replace(p_brand, 'Brand#', 'B')   AS brand_short,
       count(*) AS n
FROM part
GROUP BY 1, 2, 3, 4
ORDER BY brand_uc, name_len, type_prefix, brand_short
"""


@register("scalar_string_funcs", sql=STRING_SQL, tags=("scalar",))
def scalar_string_funcs(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.upper("p_brand").alias("brand_uc"),
            F.length("p_name").cast("long").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("brand_uc", "name_len", "type_prefix", "brand_short")
    )


MATH_SQL = """
SELECT l_linenumber,
       round(sum(CAST(l_extendedprice * l_tax AS DECIMAL(27,4))), 2)::DOUBLE
                                                           AS tax_amount,
       round(sum(CAST(abs(l_discount - 0.05) AS DECIMAL(27,2))), 4)::DOUBLE
                                                           AS disc_dev,
       CAST(sum(CAST(ceil(l_quantity) AS BIGINT)) AS BIGINT)  AS qty_ceil,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_floor,
       round(sum(CAST(pow(l_discount, 2) AS DECIMAL(27,4))), 6)::DOUBLE
                                                           AS disc_sq
FROM lineitem
GROUP BY l_linenumber
ORDER BY l_linenumber
"""


@register("scalar_math_funcs", sql=MATH_SQL, tags=("scalar",))
def scalar_math_funcs(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linenumber")
        .agg(
            F.round(F.sum((F.col("l_extendedprice") * F.col("l_tax"))
                          .cast("decimal(27,4)")), 2)
            .cast("double").alias("tax_amount"),
            F.round(F.sum(F.abs(F.col("l_discount") - 0.05)
                          .cast("decimal(27,2)")), 4)
            .cast("double").alias("disc_dev"),
            F.sum(F.ceil("l_quantity").cast("long")).alias("qty_ceil"),
            F.sum(F.floor("l_quantity").cast("long")).alias("qty_floor"),
            F.round(F.sum(F.pow("l_discount", F.lit(2))
                          .cast("decimal(27,4)")), 6)
            .cast("double").alias("disc_sq"),
        )
        .orderBy("l_linenumber")
    )


GSETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rflag,
       coalesce(l_linestatus, 'ALL') AS lstatus,
       CAST(count(*) AS BIGINT)      AS n,
       round(sum(l_quantity), 2)     AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY rflag, lstatus
"""


@register("agg_grouping_sets", sql=GSETS_SQL, tags=("agg",))
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond the rollup/cube queries) — one pass,
    partial aggregation per set expanded by Catalyst."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               count(*)                      AS n,
               round(sum(l_quantity), 2)     AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY rflag, lstatus
    """)


PIVOT_SQL = """
SELECT l_returnflag,
       round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS qty_F,
       round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS qty_O
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_pivot", sql=PIVOT_SQL, tags=("agg",))
def agg_pivot(spark, sf_dir):
    """PIVOT: per-return-flag quantity split by line status into columns —
    native pivot with an explicit value list (no extra distinct scan)."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )
    return (
        out.select(
            "l_returnflag",
            F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_F"),
            F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_O"),
        )
        .orderBy("l_returnflag")
    )


@register("agg_approx_distinct", tags=("agg",))
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) next to the exact count —
    rows-only check (Spark's HLL++ register layout is engine-specific,
    so no SQL twin can replay it); the relative error bound (<2% at
    default rsd) is asserted in tests. The oracle-backed counterpart is
    ``agg_hll_sketch`` (plans/sketch_queries.py), which builds the HLL
    from md5 so the DuckDB twin reproduces the estimate bit-for-bit —
    use that when the estimate itself must be auditable, this native
    form when you just want Tungsten's fastest sketch."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


Q17_SQL = """
WITH pa AS (
  SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT count(*)                                          AS n_small,
       round(sum(CAST(l_extendedprice AS DECIMAL(27,2)))::DOUBLE / 7.0, 2)
                                                         AS avg_yearly
FROM lineitem JOIN pa ON l_partkey = pk
WHERE l_quantity < 0.5 * avg_qty
"""


@register("q17_small_qty_revenue", sql=Q17_SQL, tags=("join", "agg"))
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 pattern: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + equi-join back on the key.
    At scale both sides shuffle on l_partkey once; AQE turns the per-part
    aggregate (|parts| rows, far smaller than lineitem) into a broadcast
    when it fits. This is the canonical Spark rewrite — never a per-row
    subquery."""
    li = load(spark, sf_dir, "lineitem")
    per_part = (li.groupBy(F.col("l_partkey").alias("pk"))
                .agg(F.avg("l_quantity").alias("avg_qty")))
    return (li.join(per_part, F.col("l_partkey") == F.col("pk"))
            .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
            .agg(F.count(F.lit(1)).alias("n_small"),
                 F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(27,2)"))
                         .cast("double") / 7.0, 2).alias("avg_yearly")))


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey AS ok, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 260
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2)            AS totalprice,
       total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN big    ON o_orderkey = ok
ORDER BY totalprice DESC, o_orderkey
"""


@register("q18_large_orders", sql=Q18_SQL, tags=("join", "agg"))
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 pattern: HAVING-filtered aggregate used as a join filter.
    The per-order aggregate runs first (map-side partial sum, then one
    shuffle on l_orderkey); its survivors (~1% of orders at threshold 260)
    join orders on the same key, then the customer dimension joins —
    broadcast-sized at any SF where customers ≪ orders."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (li.groupBy(F.col("l_orderkey").alias("ok"))
           .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
           .where(F.col("total_qty") > 260))
    return (orders.join(big, F.col("o_orderkey") == F.col("ok"))
            .join(cust, F.col("c_custkey") == F.col("o_custkey"))
            .select("c_name", "c_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                    F.round("o_totalprice", 2).alias("totalprice"),
                    "total_qty")
            .orderBy(F.col("totalprice").desc(), "o_orderkey"))


PERCENTILES_SQL = """
SELECT l_returnflag,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 6)
         AS p50_price,
       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 6)
         AS p90_price,
       round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 6)
         AS p99_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_percentiles", sql=PERCENTILES_SQL, tags=("agg", "percentile"))
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (percentile_cont semantics) per group.
    Spark's native `percentile` aggregate runs as a partial+final hash agg —
    each task keeps a per-group digest, so the shuffle carries one digest per
    (group, partition), not the raw column. The approx_percentile twin
    (`agg_approx_distinct` family) is the 100 TB path when groups are huge;
    this exact form is the oracle-checkable baseline."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6)
            .alias("p50_price"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6)
            .alias("p90_price"),
            F.round(F.percentile("l_extendedprice", F.lit(0.99)), 6)
            .alias("p99_price"),
        )
        .orderBy("l_returnflag")
    )


HISTOGRAM_SQL = """
SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
       count(*) AS n,
       round(min(l_extendedprice), 2) AS lo,
       round(max(l_extendedprice), 2) AS hi
FROM lineitem
GROUP BY bucket
ORDER BY bucket
"""


@register("agg_histogram", sql=HISTOGRAM_SQL, tags=("agg", "histogram"))
def agg_histogram(spark, sf_dir):
    """Fixed-width histogram: bucket = floor(x / width) computed map-side,
    then one hash agg on the bucket id — the distribution-profiling shape
    (data-quality dashboards, skew detection before choosing join
    strategies). Bucket count is bounded by the value range, so the
    aggregate output is tiny regardless of input scale."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 5000).cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# --- Referential-integrity audit ---------------------------------------------

_RI_EDGES = [
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
]

# The parent side is deduplicated (SELECT DISTINCT pk) on BOTH sides: the
# Spark plan probes a .distinct() key set, so a parent table with duplicate
# keys must not multiply the oracle's LEFT JOIN — one edge, one verdict per
# child row regardless of parent-key uniqueness. Generated from _RI_EDGES so
# plan and oracle can't drift edge-by-edge.
RI_AUDIT_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{fk}' AS fk, CAST(count(*) AS BIGINT) AS n_child,
       CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_orphans
FROM {child} c
LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) p ON c.{ck} = p.k"""
    for fk, child, ck, parent, pk in _RI_EDGES) + "\nORDER BY fk"


@register("audit_referential", sql=RI_AUDIT_SQL, tags=("agg", "quality"))
def audit_referential(spark, sf_dir):
    """Referential-integrity audit across every foreign-key edge of the
    star schema: per edge the child row count and the orphan count
    (children whose parent key resolves to nothing). The relational
    data-quality gate a nightly pipeline runs before trusting joins —
    an orphan count that moves is an ingest bug caught before it
    silently drops rows from inner-join analytics.

    Scale: each edge is one left join on its own key aggregated to two
    numbers — map-side combinable, and the parent sides here are dims
    that broadcast; at 100 TB the fact-fact edge (lineitem->orders)
    flips to a shuffle join under AQE like every other key-partitioned
    audit."""
    out = None
    for fk, child, ck, parent, pk in _RI_EDGES:
        c = load(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = (load(spark, sf_dir, parent)
             .select(F.col(pk).alias("k"), F.lit(1).alias("_hit"))
             .distinct())
        row = (c.join(p, "k", "left")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_child"),
                    F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                    .cast("bigint").alias("n_orphans"))
               .select(F.lit(fk).alias("fk"), "n_child", "n_orphans"))
        out = row if out is None else out.union(row)
    return out.orderBy("fk")


# --- Median absolute deviation per group (robust spread) --------------------

MAD_SQL = """
WITH med AS (
  SELECT l_returnflag,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS med
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       round(any_value(m.med), 6) AS median_price,
       round(percentile_cont(0.5)
             WITHIN GROUP (ORDER BY abs(l.l_extendedprice - m.med)), 6)
         AS mad_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem l JOIN med m USING (l_returnflag)
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@register("agg_mad_by_group", sql=MAD_SQL, tags=("agg", "percentile"))
def agg_mad_by_group(spark, sf_dir):
    """Median absolute deviation per group — the robust-spread statistic
    outlier trimming should use when the tail is heavy (stddev is itself
    dragged by the outliers it is meant to find). Inherently TWO-PHASE:
    the group median must exist before residuals can be ranked, so the
    plan is medians-agg → broadcast join-back → residual-median agg.

    Scale: phase one reduces to one digest row per group; the join-back
    broadcasts that bounded table onto the fact scan (no second shuffle
    of the data for the join); phase two is the same partial+final
    percentile digest as `agg_percentiles`. Two passes over the fact
    column is the FLOOR for exact MAD — pipelines that can't afford the
    second pass swap phase two for the mergeable histogram sketch and
    keep this exact form as its oracle."""
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med"))
    return (li.join(F.broadcast(med), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(F.round(F.first("med"), 6).alias("median_price"),
                 F.round(F.percentile(
                     F.abs(F.col("l_extendedprice") - F.col("med")),
                     F.lit(0.5)), 6).alias("mad_price"),
                 F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy("l_returnflag"))


# --- Pareto concentration of customer spend per nation ----------------------

PARETO_SQL = """
WITH spend AS (
  SELECT n_name, c_custkey,
         sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS s
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_custkey
), ranked AS (
  SELECT n_name, c_custkey, s,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY s DESC, c_custkey) AS rk,
         sum(s) OVER (PARTITION BY n_name ORDER BY s DESC, c_custkey
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(s) OVER (PARTITION BY n_name) AS total,
         count(*) OVER (PARTITION BY n_name) AS n_cust
  FROM spend
)
SELECT n_name AS nation,
       CAST(any_value(n_cust) AS BIGINT) AS n_cust,
       CAST(any_value(total) AS BIGINT) AS total_c,
       CAST(min(CASE WHEN 10 * cum >= 8 * total THEN rk END) AS BIGINT)
         AS n_top80,
       CAST(sum(CASE WHEN rk <= (n_cust + 9) // 10 THEN s ELSE 0 END)
            * 1000000 // any_value(total) AS BIGINT) AS top10_share_e6
FROM ranked
GROUP BY n_name
ORDER BY nation
"""


@register("pareto_revenue_share", sql=PARETO_SQL, tags=("agg", "window"))
def pareto_revenue_share(spark, sf_dir):
    """Pareto (80/20) concentration of customer spend per nation: how
    many customers cover 80% of a nation's order value (the minimal
    top-spender prefix), and what share the top decile holds — the
    concentration profile behind account-management tiering and the
    skew-awareness twin of `skew_profile` on the MONEY axis rather than
    the key axis. All arithmetic is integer: spend lives in cents
    (floor of identical doubles), cumulative and total sums are exact
    integer window sums, the 80% test is the cross-multiplied
    10·cum >= 8·total (no division), the decile cut is floor-division
    rank arithmetic and the decile share lands on a 1e-6 integer grid —
    engine-exact end to end.

    Scale: spend reduces orders to one row per (nation, customer) in a
    hash agg; ranking/cumsum/total share ONE nation-partitioned window
    sort (Catalyst evaluates all four functions in a single window
    stage); the final agg is nations-sized. Per-partition width is a
    nation's customer count — the natural shard key for this analysis."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    spend = (orders
             .join(cust, F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(nation),
                   F.col("c_nationkey") == F.col("n_nationkey"))
             .groupBy("n_name", "c_custkey")
             .agg(F.sum(F.floor(F.col("o_totalprice") * 100)
                        .cast("bigint")).cast("bigint").alias("s")))
    w = Window.partitionBy("n_name").orderBy(F.desc("s"), "c_custkey")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("n_name")
    ranked = spend.select(
        "n_name", "c_custkey", "s",
        F.row_number().over(w).alias("rk"),
        F.sum("s").over(wcum).alias("cum"),
        F.sum("s").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("n_cust"))
    agg = (ranked.groupBy("n_name")
           .agg(F.first("n_cust").alias("nc"),
                F.first("total").alias("tc"),
                F.min(F.when(F.col("cum") * 10 >= F.col("total") * 8,
                             F.col("rk"))).alias("n80"),
                F.sum(F.when(
                    F.col("rk") <= F.expr("(n_cust + 9) div 10"),
                    F.col("s")).otherwise(0)).alias("topdec")))
    return (agg.select(
        F.col("n_name").alias("nation"),
        F.col("nc").cast("bigint").alias("n_cust"),
        F.col("tc").cast("bigint").alias("total_c"),
        F.col("n80").cast("bigint").alias("n_top80"),
        F.expr("topdec * 1000000 div tc").cast("bigint")
        .alias("top10_share_e6"))
        .orderBy("nation"))


BUCKETED_SQL = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY priority
"""


@register("join_bucketed", sql=BUCKETED_SQL, tags=("join", "layout"))
def join_bucketed(spark, sf_dir):
    """Co-located (bucketed) fact-fact join — the layout answer to the
    one shuffle class this catalog couldn't otherwise avoid: two big
    fact tables joining on a shared key. Orders and lineitem are
    written ONCE as bucketed tables (8 buckets on the orderkey, sorted
    within buckets; `repartition(nb, key)` before the write so each
    bucket is exactly one file), then joined back bucket-to-bucket: the
    SortMergeJoin consumes both scans with NO Exchange on either side —
    the join cost is a co-partitioned merge pass, pinned in
    `tests/test_plan_shape.py::test_join_bucketed_colocated`. (Spark
    still inserts partition-LOCAL Sorts above the scans: since 3.0 a
    bucketed scan only advertises its sortBy order under
    `spark.sql.legacy.bucketedTableScan.outputOrdering`; sorting an
    already-sorted single-file bucket is a linear, spill-free pass, and
    the flag elides it where that pass matters.)
    The oracle is the plain join+agg over the original parquet, so the
    bucketed write→scan→join path must preserve every row and value.
    Money stays integer (floor-cents per item, summed exactly).

    Scale: THE recurring-join layout at 100 TB — pay the partitioned
    write once, then every subsequent join/groupBy on the orderkey is
    shuffle-free regardless of table size; bucket count scales with the
    cluster (8 here for the local demo), and AQE never needs to touch
    the join because there is nothing to re-plan. The one-time write IS
    a shuffle — amortized across every downstream consumer."""
    import os
    import tempfile

    nb = 8
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    # Per-invocation table names (suffixed with the mkdtemp basename) so
    # two invocations sharing a metastore can't clobber each other's
    # catalog entries mid-query; the dir and both tables are tracked for
    # release_caches() so repeated runs don't accumulate /tmp or
    # metastore garbage.
    base = track_staging_dir(tempfile.mkdtemp(prefix="bkt_join_"))
    suffix = os.path.basename(base)
    t_orders = track_temp_table(spark, f"bkt_orders_{suffix}")
    t_li = track_temp_table(spark, f"bkt_lineitem_{suffix}")
    (orders.repartition(nb, F.col("o_orderkey"))
     .write.format("parquet").mode("overwrite")
     .bucketBy(nb, "o_orderkey").sortBy("o_orderkey")
     .option("path", base + "/orders").saveAsTable(t_orders))
    (li.repartition(nb, F.col("l_orderkey"))
     .write.format("parquet").mode("overwrite")
     .bucketBy(nb, "l_orderkey").sortBy("l_orderkey")
     .option("path", base + "/lineitem").saveAsTable(t_li))
    bo = spark.table(t_orders)
    bl = spark.table(t_li)
    joined = bl.hint("merge").join(
        bo, bl["l_orderkey"] == bo["o_orderkey"])
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
                 F.sum("l_quantity").cast("bigint").alias("sum_qty"),
                 F.sum(F.floor(F.col("l_extendedprice") * 100)
                       .cast("bigint")).cast("bigint").alias("price_c"))
            .select(F.col("o_orderpriority").alias("priority"),
                    "n_items", "sum_qty", "price_c")
            .orderBy("priority"))


LINK_FUZZY_SQL = """
WITH pairs AS (
  SELECT a.p_brand AS brand,
         levenshtein(a.p_name, b.p_name) AS dist,
         a.p_partkey * 100000000 + b.p_partkey AS pair_code
  FROM part a
  JOIN part b
    ON a.p_brand = b.p_brand
   AND a.p_partkey < b.p_partkey
   AND abs(length(a.p_name) - length(b.p_name)) <= 2
   AND levenshtein(a.p_name, b.p_name) <= 3
)
SELECT brand,
       CAST(dist AS BIGINT) AS dist,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(pair_code) AS BIGINT) AS first_pair
FROM pairs
GROUP BY brand, dist
ORDER BY brand, dist
"""


@register("link_parts_fuzzy", sql=LINK_FUZZY_SQL,
          tags=("join", "fuzzy", "curation"))
def link_parts_fuzzy(spark, sf_dir):
    """Blocked record linkage (entity resolution) over the part catalog:
    candidate pairs come ONLY from within a blocking key (p_brand — the
    equi-join Catalyst plans as the shuffle/broadcast key), survive a
    free length-difference prefilter (|len(a)-len(b)| <= 2 is a lower
    bound on edit distance — rows it kills never reach the O(n·m)
    verifier), and are verified by JVM-native `levenshtein` <= 3. The
    output is the linkage profile per (brand, distance): pair counts
    plus the smallest encoded pair as a deterministic witness. This is
    the classic filter-verification ER shape (blocking → cheap bound →
    exact verify) the dedup family applies to documents, here on the
    ENTITY axis with an edit-distance matcher; `levenshtein` is
    engine-identical in Spark and DuckDB so the oracle replays it
    exactly.

    Scale: candidate work is Σ(block²), never n² — brand alone bounds it
    here; at 100 TB the blocking key widens to (brand, length-band) with
    each record exploded into its own and neighboring bands (so the
    ±2-length matches stay co-located), and hot blocks get the same
    salting the skew family demonstrates. The verifier cost is bounded
    by the prefilter's survivors; the rollup is (brands × 4)-sized.
    Pair encoding at 1e8 keeps the witness integer-exact."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    a, b = p.alias("a"), p.alias("b")
    an, bn = F.col("a.p_name"), F.col("b.p_name")
    pairs = (a.join(b,
                    (F.col("a.p_brand") == F.col("b.p_brand"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey"))
                    & (F.abs(F.length(an) - F.length(bn)) <= 2)
                    & (F.levenshtein(an, bn) <= 3))
             .select(F.col("a.p_brand").alias("brand"),
                     F.levenshtein(an, bn).alias("dist"),
                     (F.col("a.p_partkey") * 100000000
                      + F.col("b.p_partkey")).alias("pair_code")))
    return (pairs.groupBy("brand", "dist")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.min("pair_code").cast("bigint").alias("first_pair"))
            .select("brand", F.col("dist").cast("bigint").alias("dist"),
                    "n_pairs", "first_pair")
            .orderBy("brand", "dist"))


BASKET_LIFT_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), nb AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1
), pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items
)
SELECT brand_a, brand_b, n_ab, na.n AS n_a, nbb.n AS n_b,
       n_ab * 1000000 // n_orders AS support_ppm,
       n_ab * 1000000 // na.n AS confidence_ppm,
       n_ab * n_orders * 1000000 // (na.n * nbb.n) AS lift_e6
FROM pairs
JOIN nb na ON brand_a = na.brand
JOIN nb nbb ON brand_b = nbb.brand
CROSS JOIN tot
WHERE n_ab >= 5
ORDER BY brand_a, brand_b
"""


@register("orders_basket_lift", sql=BASKET_LIFT_SQL,
          tags=("join", "agg", "curation"))
def orders_basket_lift(spark, sf_dir):
    """Market-basket association rules over order baskets: for every
    pair of part brands co-occurring in >= 5 orders, support,
    confidence and lift — the relational co-occurrence analysis
    complementing `token_pmi_bigrams` (tokens) and
    `events_type_affinity` (event types). All-integer: ppm/1e-6 grids
    by cross-multiplied floor division, no floats.

    Scale: baskets collapse to DISTINCT (order, brand) first — bounded
    by orders x brands — and the pair self-join fans each order to
    C(k,2) pairs of its FEW distinct brands (k <= |brands| = 25), never
    lineitem x lineitem; brand marginals and the scalar order count
    broadcast into the final join. Skewless by construction: the pair
    space is at most |brands|^2."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = track_persist(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"),
                F.col("p_brand").alias("brand"))
        .distinct())
    nb = items.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (a.join(b, (F.col("a.okey") == F.col("b.okey"))
                    & (F.col("a.brand") < F.col("b.brand")))
             .groupBy(F.col("a.brand").alias("brand_a"),
                      F.col("b.brand").alias("brand_b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
             .where(F.col("n_ab") >= 5))
    tot = items.agg(F.countDistinct("okey").cast("bigint")
                    .alias("n_orders"))
    na = nb.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    nbb = nb.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (pairs.join(F.broadcast(na), "brand_a")
            .join(F.broadcast(nbb), "brand_b")
            .crossJoin(F.broadcast(tot))
            .select("brand_a", "brand_b", "n_ab", "n_a", "n_b",
                    F.expr("n_ab * 1000000L div n_orders").cast("bigint")
                    .alias("support_ppm"),
                    F.expr("n_ab * 1000000L div n_a").cast("bigint")
                    .alias("confidence_ppm"),
                    F.expr("n_ab * n_orders * 1000000L div (n_a * n_b)")
                    .cast("bigint").alias("lift_e6"))
            .orderBy("brand_a", "brand_b"))
