"""Scale utilities: bucketed zero-exchange joins, skew salting, and the
approx-distinct error bound."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.plan_walk import exchanges, nodes


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from spark_sentiment_spark.sources.bucketing import (bucketed_join,
                                                         save_bucketed)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    save_bucketed(li, "li_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"],
                  path=str(tmp_path / "li_b"))
    save_bucketed(orders, "ord_b", ["l_orderkey"], 4,
                  sort_cols=["l_orderkey"], path=str(tmp_path / "ord_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "li_b", "ord_b", ["l_orderkey"])
        # co-located buckets: no shuffle
        assert not exchanges(nodes(joined))
        # same result as the plain join
        plain = li.join(orders, "l_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_salted_agg_matches_plain(spark):
    from spark_sentiment_spark.operators.skew import salted_agg

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = salted_agg(df, ["l_returnflag"],
                     {"n": F.count(F.lit(1)),
                      "qty": F.sum("l_quantity"),
                      "mx": F.max("l_quantity")})
    want = df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"),
        F.max("l_quantity").alias("mx"))
    g = {r["l_returnflag"]: (r["n"], round(r["qty"], 4), r["mx"])
         for r in got.collect()}
    w = {r["l_returnflag"]: (r["n"], round(r["qty"], 4), r["mx"])
         for r in want.collect()}
    assert g == w


def test_salted_join_matches_plain(spark):
    from spark_sentiment_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    got = salted_join(li, orders, ["l_orderkey"], n_salts=4)
    want = li.join(orders, ["l_orderkey"])
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_approx_distinct_error_bound(spark, query):

    out = query("agg_approx_distinct").collect()
    for r in out:
        rel_err = abs(r["approx_parts"] - r["exact_parts"]) / max(r["exact_parts"], 1)
        assert rel_err < 0.1, f"{r['l_returnflag']}: {rel_err}"
