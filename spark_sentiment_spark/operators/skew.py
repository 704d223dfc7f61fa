"""Skew mitigation — salting for hot keys (SURVEY §7.4 scale posture).

AQE's skew-join splitting (enabled in the session defaults) handles most
runtime skew; explicit salting remains the tool when one key dominates an
*aggregation* or when the planner must be forced to spread a hot join key
across reducers. Both helpers preserve exact semantics: salting only
inserts an extra pre-shuffle key that is removed by a second phase.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(df: DataFrame, keys: list[str], aggs: dict[str, Column]
               ) -> DataFrame:
    """Two-phase aggregation: partial agg on (keys..., salt) spreads a hot
    key over 16 reducers, final agg on keys merges the partials.

    ``aggs`` maps output name → *re-aggregable* expression builder applied
    twice; supported: sum, count (expressed as sum at phase 2), min, max.
    Example::

        salted_agg(df, ["k"], {"n": F.count(F.lit(1)), "s": F.sum("v")})
    """
    salt = (F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                   F.lit(16))).alias("_salt")
    phase1 = (df.withColumn("_salt", salt)
              .groupBy(*keys, "_salt")
              .agg(*[expr.alias(f"_p_{name}") for name, expr in aggs.items()]))
    # phase 2: counts merge by SUM, sums by SUM, min/max by themselves
    def merge(name: str, expr: Column) -> Column:
        kind = expr._jc.toString().lower()
        src = F.col(f"_p_{name}")
        if kind.startswith("min"):
            return F.min(src).alias(name)
        if kind.startswith("max"):
            return F.max(src).alias(name)
        return F.sum(src).alias(name)   # sum + count both merge by sum

    return phase1.groupBy(*keys).agg(
        *[merge(name, expr) for name, expr in aggs.items()])


def salted_join(left: DataFrame, right: DataFrame, on: list[str],
                n_salts: int = 8) -> DataFrame:
    """Skewed-key inner equi-join: left rows get a deterministic-per-row
    salt in [0, n_salts); the (small-ish) right side is replicated once per
    salt value. The join key becomes (key..., salt) so a hot key's rows
    spread over ``n_salts`` reducers. Semantics identical to
    ``left.join(right, on)``."""
    lsalt = F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                   F.lit(n_salts))
    l = left.withColumn("_salt", lsalt)
    r = (right.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
         .withColumn("_salt", F.col("_salt").cast("long")))
    out = l.join(r, on + ["_salt"])
    return out.drop("_salt")
