"""Bucketed tables — shuffle-free co-located joins (SURVEY §7.4 scale
posture; no analogue in the reference, which never joins large sides).

Writing both join sides bucketed (and sorted) by the join key lets a
sort-merge join read co-located buckets with NO exchange on either side —
at 100 TB this removes the dominant shuffle of fact-to-fact joins, and at
1000 executors it caps each task's input to one bucket pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def save_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                  num_buckets: int = 32,
                  sort_cols: list[str] | None = None,
                  path: str | None = None) -> None:
    """Persist as a bucketed (+optionally sorted) managed/external parquet
    table. Join sides bucketed the same way join without exchanges."""
    w = (df.write.mode("overwrite").format("parquet")
         .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
