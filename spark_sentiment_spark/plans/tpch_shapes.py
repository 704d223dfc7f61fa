"""Extended TPC-H query shapes over the trimmed testdata star schema.

The reference's relational surface stops at single-key groupBy and one
null-safe join (SURVEY.md §2.3-2.5); `relational.py` declares the core
extension queries (q1/q3/q5/q6/q10/q17/q18 shapes). This module completes
the TPC-H shape family, adapted to the driver testdata's trimmed columns
(no partsupp table, no l_shipmode/l_commitdate/l_receiptdate, no c_phone):

* q4  — correlated EXISTS → left-semi join with a compound condition
* q7  — nation self-join pair predicate, multi-key groupBy by year
* q8  — conditional-aggregate market share (CASE WHEN inside sum ratio)
* q9  — LIKE filter + 5-way join + profit expression by nation/year
* q11 — HAVING against a global scalar subquery (broadcast cross-join)
* q12 — CASE WHEN pivot-style counts per group
* q13 — left outer join + count-of-counts distribution
* q14 — conditional revenue ratio
* q15 — max-by over an aggregated view (top supplier, tie-safe)
* q16 — NOT IN exclusion (left-anti) + countDistinct
* q19 — disjunctive bracket predicates (OR of AND-groups)
* q20 — nested aggregate semi-join chain
* q22 — scalar-average subquery + NOT EXISTS anti-join + substring group

Scale notes: dimension sides (nation, region, supplier, the q11/q22 scalar
aggregates) are explicitly broadcast — at 100 TB the fact tables shuffle on
their join keys once and every scalar subquery stays a broadcast, never a
driver collect. Filters sit on the scans so Catalyst pushes them into
parquet row-group pruning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_sentiment_spark.plans.registry import load, register

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# --- Q4: EXISTS → left-semi with compound join condition --------------------

Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_priority_exists", sql=Q4_SQL, tags=("join", "semi", "agg"))
def q4_priority_exists(spark, sf_dir):
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    late = (li["l_orderkey"] == orders["o_orderkey"]) & (
        li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- Q7: nation-pair volume shipping ----------------------------------------

Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(CAST(volume AS DECIMAL(27,4))), 2)::DOUBLE AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", sql=Q7_SQL, tags=("join", "agg"))
def q7_volume_shipping(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").alias("n1")
    n2 = load(spark, sf_dir, "nation").alias("n2")
    pair = (
        (F.col("n1.n_name") == "NATION_1") & (F.col("n2.n_name") == "NATION_2")
    ) | ((F.col("n1.n_name") == "NATION_2") & (F.col("n2.n_name") == "NATION_1"))
    return (
        supp.join(li, supp["s_suppkey"] == li["l_suppkey"])
        .join(orders, orders["o_orderkey"] == li["l_orderkey"])
        .join(cust, cust["c_custkey"] == orders["o_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .where(pair)
        .select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
            _rev().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        # Money sums run in exact DECIMAL(27,4): the double->decimal cast
        # recovers the exact 4-dp rational on both engines and decimal
        # addition is order-independent, so round-half knife edges vanish.
        .agg(F.round(F.sum(F.col("volume").cast("decimal(27,4)")), 2)
             .cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- Q8: market share (conditional aggregate ratio) -------------------------

Q8_SQL = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD')
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", sql=Q8_SQL, tags=("join", "agg", "conditional"))
def q8_market_share(spark, sf_dir):
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").alias("n1")
    n2 = load(spark, sf_dir, "nation").alias("n2")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    vol = (
        part.join(li, part["p_partkey"] == li["l_partkey"])
        .join(supp, supp["s_suppkey"] == li["l_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), cust["c_nationkey"] == F.col("n1.n_nationkey"))
        .join(F.broadcast(region),
              F.col("n1.n_regionkey") == region["r_regionkey"])
        .join(F.broadcast(n2), supp["s_nationkey"] == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            F.col("n2.n_name").alias("nation"),
        )
    )
    target = F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0)
    return (
        vol.groupBy("o_year")
        .agg(F.round(F.sum(target) / F.sum("volume"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


# --- Q9: product profit by nation/year --------------------------------------

Q9_SQL = """
SELECT nation, o_year,
       round(sum(CAST(amount AS DECIMAL(27,4))), 2)::DOUBLE AS sum_profit
FROM (
  SELECT n_name AS nation,
         EXTRACT(year FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.1 * p_retailprice * l_quantity AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%')
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("q9_product_profit", sql=Q9_SQL, tags=("join", "agg"))
def q9_product_profit(spark, sf_dir):
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    amount = _rev() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        part.join(li, part["p_partkey"] == li["l_partkey"])
        .join(supp, supp["s_suppkey"] == li["l_suppkey"])
        .join(orders, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        # Exact DECIMAL(27,4) summation (see q7) — the profit expression
        # yields 3/4-dp rationals whose double sums sit ON half-cent edges.
        .agg(F.round(F.sum(F.col("amount").cast("decimal(27,4)")), 2)
             .cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


# --- Q11: HAVING vs global scalar subquery ----------------------------------

Q11_SQL = """
SELECT n_name, round(sum(s_acctbal), 2) AS value
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
HAVING sum(s_acctbal) > (SELECT sum(s_acctbal) * 0.04 FROM supplier)
ORDER BY value DESC, n_name
"""


@register("q11_nation_concentration", sql=Q11_SQL,
          tags=("agg", "scalar-subquery"))
def q11_nation_concentration(spark, sf_dir):
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    # Global scalar subquery as a broadcast cross-join: one row crosses the
    # cluster, never a driver collect.
    threshold = supp.agg((F.sum("s_acctbal") * 0.04).alias("threshold"))
    per_nation = (
        supp.join(F.broadcast(nation),
                  supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("s_acctbal").alias("raw_value"))
    )
    return (
        per_nation.crossJoin(F.broadcast(threshold))
        .where(F.col("raw_value") > F.col("threshold"))
        .select("n_name", F.round(F.col("raw_value"), 2).alias("value"))
        .orderBy(F.desc("value"), F.asc("n_name"))
    )


# --- Q12: CASE WHEN pivot counts --------------------------------------------

Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("q12_priority_classes", sql=Q12_SQL, tags=("join", "conditional"))
def q12_priority_classes(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --- Q13: left outer join + count-of-counts distribution --------------------

Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", sql=Q13_SQL,
          tags=("join", "outer", "agg"))
def q13_customer_distribution(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                  "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- Q14: promo revenue ratio -----------------------------------------------

Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
"""


@register("q14_promo_revenue", sql=Q14_SQL, tags=("join", "conditional"))
def q14_promo_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1997-09-01"))
        & (F.col("l_shipdate") < _ts("1997-10-01"))
    )
    part = load(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(0.0)
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(F.round(100.0 * F.sum(promo) / F.sum(_rev()), 6)
             .alias("promo_revenue"))
    )


# --- Q15: top supplier (max-by over aggregated view) ------------------------

Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))),
               2)::DOUBLE AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", sql=Q15_SQL, tags=("agg", "scalar-subquery"))
def q15_top_supplier(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    supp = load(spark, sf_dir, "supplier")
    from spark_sentiment_spark.plans.registry import track_persist

    # Rounding BEFORE the max comparison keeps the tie test deterministic
    # across summation orders (Spark partial aggs vs DuckDB single-threaded).
    # `revenue` feeds both the join
    # and the scalar max — unpersisted, each branch re-scanned and
    # re-aggregated lineitem. The per-supplier aggregate is bounded
    # (|suppliers| rows), so persisting it halves the fact work.
    revenue = track_persist(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.round(F.sum(_rev().cast("decimal(27,4)")), 2).cast("double")
            .alias("total_revenue")))
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        supp.join(revenue, supp["s_suppkey"] == revenue["supplier_no"])
        .join(F.broadcast(best),
              F.col("total_revenue") == F.col("best_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- Q16: NOT IN exclusion + countDistinct ----------------------------------

Q16_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 28, 36)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


@register("q16_supplier_variety", sql=Q16_SQL,
          tags=("join", "anti", "distinct-agg"))
def q16_supplier_variety(spark, sf_dir):
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 36)
    )
    li = load(spark, sf_dir, "lineitem")
    excluded = load(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(excluded),
                li["l_suppkey"] == excluded["s_suppkey"], "left_anti")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
    )


# --- Q19: disjunctive bracket predicates ------------------------------------

Q19_SQL = """
SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))),
             2)::DOUBLE AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_brackets", sql=Q19_SQL,
          tags=("join", "filter", "disjunction"))
def q19_disjunctive_brackets(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")

    def bracket(brand, max_size, qty_lo, qty_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qty_lo, qty_hi)
        )

    cond = (
        bracket("Brand#12", 15, 1, 11)
        | bracket("Brand#23", 25, 10, 20)
        | bracket("Brand#34", 35, 20, 30)
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(F.round(F.sum(_rev().cast("decimal(27,4)")), 2).cast("double")
             .alias("revenue"))
    )


# --- Q20: nested aggregate semi-join chain ----------------------------------

Q20_SQL = """
SELECT s_name, round(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%widget%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 100)
ORDER BY s_name
"""


@register("q20_part_suppliers", sql=Q20_SQL, tags=("join", "semi", "agg"))
def q20_part_suppliers(spark, sf_dir):
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    heavy = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        supp.join(heavy, supp["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_name")
    )


# --- Q22: scalar-average subquery + anti-join + substring group -------------

Q22_SQL = """
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
SELECT substr(c_name, 10, 2) AS cntrycode,
       count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


@register("q22_dormant_customers", sql=Q22_SQL,
          tags=("anti", "scalar-subquery", "agg"))
def q22_dormant_customers(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    # "Dormant" = no orders since mid-2000 (every synthetic customer has at
    # least one lifetime order, so the classic phone-prefix Q22 anti-join
    # would be vacuously empty here).
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= _ts("2000-07-01")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy(F.substring("c_name", 10, 2).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --- Q2 (adapted): correlated-min subquery over a multi-dim join ------------
# The testdata has no partsupp/ps_supplycost, so the classic "min-cost
# supplier per part" becomes "min-acctbal supplier among those who shipped
# the part" — the same physical shape: dim joins + per-group min + filter
# back to the rows achieving it.

Q2_SQL = """
WITH shipped AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
cand AS (
  SELECT p.p_partkey, p.p_type, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM shipped sh
  JOIN part p     ON p.p_partkey = sh.l_partkey
  JOIN supplier s ON s.s_suppkey = sh.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE p.p_size = 4
),
best AS (
  SELECT p_partkey, min(s_acctbal) AS min_bal FROM cand GROUP BY p_partkey
)
SELECT c.p_partkey, c.p_type, c.s_name, c.n_name,
       round(c.s_acctbal, 2) AS acctbal
FROM cand c JOIN best b
  ON c.p_partkey = b.p_partkey AND c.s_acctbal = b.min_bal
ORDER BY acctbal DESC, c.p_partkey, c.s_name
"""


@register("q2_min_cost_supplier", sql=Q2_SQL,
          tags=("join", "scalar-subquery", "agg"))
def q2_min_cost_supplier(spark, sf_dir):
    """Q2's shape on the reduced schema: per-part minimum over a joined
    candidate set, keeping the achieving rows. The per-group min is a
    window over p_partkey — one shuffle on the group key, no join-back —
    and every dimension join broadcasts."""
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey") \
        .distinct()
    part = load(spark, sf_dir, "part").where(F.col("p_size") == 4)
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    cand = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("p_partkey", "p_type", "s_name", "n_name", "s_acctbal")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select("p_partkey", "p_type", "s_name", "n_name",
                F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy(F.desc("acctbal"), "p_partkey", "s_name")
    )


# --- Q21 (adapted): suppliers solely responsible for late orders ------------
# No l_receiptdate/l_commitdate in the reduced schema; "late" is a ship
# lag > 90 days after the order date. The correlated EXISTS / NOT EXISTS
# pair is reformulated as two aggregations (distinct suppliers per order;
# distinct LATE suppliers per order), which is the plan you want at scale:
# no per-row correlated probes, just hash aggs + semi joins on l_orderkey.

Q21_SQL = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
),
multi AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) >= 2
),
sole AS (
  SELECT l_orderkey FROM late
  GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) = 1
)
SELECT s.s_name, count(*) AS numwait
FROM late l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE l.l_orderkey IN (SELECT l_orderkey FROM multi)
  AND l.l_orderkey IN (SELECT l_orderkey FROM sole)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


@register("q21_waiting_suppliers", sql=Q21_SQL,
          tags=("join", "semi", "agg"))
def q21_waiting_suppliers(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F")
    supp = load(spark, sf_dir, "supplier")
    # `late` feeds the sole-supplier
    # aggregate AND the final semi-join chain — persist the narrow
    # (orderkey, suppkey) frame so the lineitem⋈orders pass runs once.
    from spark_sentiment_spark.plans.registry import track_persist

    late = track_persist(
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    multi = (li.groupBy("l_orderkey")
             .agg(F.countDistinct("l_suppkey").alias("ns"))
             .where(F.col("ns") >= 2).select("l_orderkey"))
    sole = (late.groupBy("l_orderkey")
            .agg(F.countDistinct("l_suppkey").alias("nl"))
            .where(F.col("nl") == 1).select("l_orderkey"))
    return (
        late.join(multi, "l_orderkey", "left_semi")
        .join(sole, "l_orderkey", "left_semi")
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )
