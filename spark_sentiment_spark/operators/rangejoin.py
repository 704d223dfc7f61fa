"""Range (point-in-interval) join — another operator Spark has no native
primitive for (SURVEY §7.4 extension, with as-of join in ``asof.py``).

Naive formulation ``p.t >= i.start AND p.t < i.end`` plans as a broadcast
nested-loop / cartesian theta-join — O(|P|·|I|), hopeless at scale. The
scale-correct plan is **interval bucketing**: quantize time into
fixed-width buckets, explode each interval into the buckets it overlaps,
give each point its single bucket, equi-join on (keys..., bucket), then
re-check the exact predicate. The theta-join becomes a hash join whose
fan-out is interval_width / bucket_width per interval — linear work for
bounded intervals, shuffle-partitionable on (key, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_interval_join(
    points: DataFrame, intervals: DataFrame, on: list[str],
    point_ts: str, start_ts: str, end_ts: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner-join each point row to every interval row (same ``on`` keys)
    with ``start <= point < end``. ``bucket_seconds`` should be ≥ the
    typical interval width for minimal fan-out (any value is correct, only
    the per-interval bucket count differs)."""
    step = F.lit(bucket_seconds).cast("long")
    # sub-second precision: work in microseconds before bucketing
    us = 1_000_000
    p_bucket = F.floor(F.unix_micros(F.col(point_ts)) / (step * us))
    i_first = F.floor(F.unix_micros(F.col(start_ts)) / (step * us))
    i_last = F.floor((F.unix_micros(F.col(end_ts)) - 1) / (step * us))

    p = points.withColumn("_b", p_bucket.cast("long"))
    i = intervals.withColumn(
        "_b", F.explode(F.sequence(i_first.cast("long"),
                                   i_last.cast("long"))))
    joined = p.join(i, on + ["_b"])
    exact = ((F.col(point_ts) >= F.col(start_ts))
             & (F.col(point_ts) < F.col(end_ts)))
    return joined.where(exact).drop("_b")
