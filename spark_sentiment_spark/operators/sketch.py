"""Engine-independent sketch arithmetic: md5 hex polynomials and the
HyperLogLog register algebra.

Every expression here is SQL text that Spark SQL and DuckDB parse to the
same integer arithmetic (instr / substring / CASE tables, never libm
pow/log or shift operators), so a sketch built by either engine is
bit-identical and the DuckDB oracle replays the estimate exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hexpoly(col: str, start: int, n: int) -> str:
    """Integer value of hex chars [start, start+n) of ``col`` (1-based),
    as SQL text valid and identical in Spark SQL and DuckDB (instr /
    substring / integer arithmetic only)."""
    terms = " + ".join(
        f"CAST(instr('0123456789abcdef', substring({col}, {start + i}, 1))"
        f" - 1 AS BIGINT) * {16 ** (n - 1 - i)}"
        for i in range(n))
    return f"({terms})"


# --- HyperLogLog-style distinct-count sketch over an md5 column ``h`` ------

HLL_M = 256          # 2^8 buckets (first 2 hex chars)
HLL_BITS = 40        # tail width: next 10 hex chars
# alpha_m * m^2 * 2^BITS+1 pre-folded into one double literal; both engines
# parse the identical decimal literal, so the final division A / S is one
# correctly-rounded IEEE op on identical operands.
HLL_A = repr(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M
             * float(2 ** (HLL_BITS + 1)))

HLL_BUCKET = hexpoly("h", 1, 2)
HLL_TAIL = hexpoly("h", 3, 10)
# rho = 1 + leading zeros of the 40-bit tail = 41 - bit_length(tail);
# bin() strips leading zeros identically in both engines (bin(0)='0',
# handled by the CASE).
HLL_RHO = (f"CASE WHEN {HLL_TAIL} = 0 THEN {HLL_BITS + 1} "
           f"ELSE {HLL_BITS + 1} - length(bin(CAST({HLL_TAIL} AS BIGINT)))"
           f" END")
# 2^(41 - mj) as an integer CASE table: no pow(), no shift operator
# (DuckDB and Spark disagree on << / div syntax; a literal table is exact
# everywhere). Empty buckets contribute 2^41 each (rho = 0).
HLL_POW2 = ("CASE mj " + " ".join(
    f"WHEN {k} THEN {2 ** (HLL_BITS + 1 - k)}"
    for k in range(1, HLL_BITS + 2)) + " END")


def hll_sum() -> Column:
    """The estimator's integer denominator S over (bucket, mj) register
    rows, as an aggregate: sum of 2^(41 - mj) over the present buckets
    plus 2^41 per empty one. The estimate is ``HLL_A / S``."""
    return (F.sum(F.expr(HLL_POW2)).cast("bigint")
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(2 ** (HLL_BITS + 1)))


def hll_registers(keyed: DataFrame, *keys) -> DataFrame:
    """HLL registers (keys..., bucket, mj) of the md5 column ``h``: the
    max rho per bucket within each group of ``keys``."""
    return (keyed.select(*keys, F.expr(HLL_BUCKET).alias("bucket"),
                         F.expr(HLL_RHO).alias("rho"))
            .groupBy(*keys, "bucket").agg(F.max("rho").alias("mj")))


def hll_estimate(registers: DataFrame, exact: DataFrame) -> DataFrame:
    """(n_exact, n_est, n_buckets, rel_err): the estimate of one register
    set against the 1-row exact count ``exact`` (n_exact)."""
    sketch = registers.agg(
        hll_sum().alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    est = F.round(F.lit(float(HLL_A)) / F.col("s").cast("double"), 2)
    return (sketch.crossJoin(F.broadcast(exact))
            .select("n_exact", est.alias("n_est"), "n_buckets",
                    F.round(F.abs(est - F.col("n_exact"))
                            / F.col("n_exact"), 4).alias("rel_err")))
