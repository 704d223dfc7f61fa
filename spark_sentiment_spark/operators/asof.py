"""As-of join — a custom operator Spark lacks natively (SURVEY §7.4
extension; the reference has no joins beyond a dead null-safe equi-join,
SURVEY §2.3).

``asof_join(left, right, ...)`` attaches, to every left row, the most
recent right row per key whose timestamp is ≤ (or <, ``strict=True``) the
left row's timestamp.

Implementation is the union-merge pattern, the scale-correct formulation:
tag both sides, union, sort within each key by (time, side-rank), and
carry right-side values forward with ``last(..., ignorenulls=True)`` over
a running window. One shuffle on the key, no time-range cross product —
at 100 TB this is a single sort-based window over the combined stream,
versus the O(|L|·|R|) blowup of a theta-join ``l.t >= r.t`` formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_time: str, right_time: str,
              value_cols: dict[str, str], strict: bool = False) -> DataFrame:
    """Returns ``left`` plus, for each entry of ``value_cols``
    ({right_col: output_name}), the value from the latest right row at or
    before (``strict``: strictly before) the left row's time, per ``on``
    key. Ties inside the right side resolve to the row sorting last by
    ``right_time`` then the value columns (deterministic)."""
    l_tag = 1
    r_tag = 2 if strict else 0   # strict: right rows at equal t sort AFTER
    lhs = left.withColumn("_t", F.col(left_time)) \
              .withColumn("_side", F.lit(l_tag))
    rhs = right.select(
        *on,
        F.col(right_time).alias("_t"),
        F.lit(r_tag).alias("_side"),
        *[F.col(src).alias(f"_v_{src}") for src in value_cols],
    )
    u = lhs.unionByName(rhs, allowMissingColumns=True)
    w = (Window.partitionBy(*on)
         .orderBy("_t", "_side", *[f"_v_{src}" for src in value_cols])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    for src, out_name in value_cols.items():
        u = u.withColumn(out_name,
                         F.last(f"_v_{src}", ignorenulls=True).over(w))
    return (u.where(F.col("_side") == l_tag)
            .drop("_t", "_side", *[f"_v_{src}" for src in value_cols]))


def asof_join_cogrouped(left: DataFrame, right: DataFrame, on: list[str],
                        left_time: str, right_time: str,
                        value_cols: dict[str, str],
                        strict: bool = False) -> DataFrame:
    """Cogrouped-``applyInPandas`` twin of :func:`asof_join`: both sides
    shuffle once on ``on``, each key's partitions meet as two Arrow
    batches, and ``pandas.merge_asof`` does the per-key backward merge.

    Same semantics and one shuffle, like the native union-merge plan, but
    the per-group pandas merge runs about 10x slower than the JVM window
    at sf0.1, so no catalog query uses it. It stays as the independent
    reference `tests/test_properties.py` checks :func:`asof_join`
    against, and as the pattern to follow when per-key logic outgrows
    window expressions (interpolation, ffill with recalibration,
    model-per-key scoring).
    Requires each key group to fit in one worker's memory — at 100 TB that
    bounds key cardinality skew, exactly like any applyInPandas operator.
    """
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(list(left.schema.fields)
                            + [StructField(out, right.schema[src].dataType)
                               for src, out in value_cols.items()])
    rhs = right.select(
        *on, F.col(right_time).alias("_rt"),
        *[F.col(src).alias(out) for src, out in value_cols.items()])
    left_cols = [f.name for f in left.schema.fields]
    outs = list(value_cols.values())

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(columns=left_cols + outs)
        if r.empty:
            out = l.copy()
            for o in outs:
                out[o] = None
            return out
        # sort right by (time, values): merge_asof takes the LAST matching
        # row, so equal-timestamp ties resolve to the max value — the same
        # deterministic tie-break as the native window plan
        r = r.sort_values(["_rt"] + outs, kind="stable")
        out = pd.merge_asof(
            l.sort_values(left_time, kind="stable"),
            r[["_rt"] + outs],
            left_on=left_time, right_on="_rt",
            direction="backward", allow_exact_matches=not strict)
        return out[left_cols + outs]

    return (left.groupBy(*on)
            .cogroup(rhs.groupBy(*on))
            .applyInPandas(merge, out_schema))
