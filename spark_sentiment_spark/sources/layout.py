"""Data-layout writers: the storage-side half of 100 TB query speed.

Predicate pushdown (pinned in tests/test_plan_shape.py) only pays off if
the files are laid out so pruning can skip I/O. Two layouts:

* ``write_partitioned`` — hive-style directory partitioning on a
  low-cardinality column; equality/IN predicates on it become
  ``PartitionFilters`` and skip whole directories before any file is
  opened.
* ``write_clustered`` — range-repartition + sort-within-partitions on a
  (possibly high-cardinality) sort key; each parquet file then covers a
  narrow, near-disjoint min/max range, so range predicates prune at the
  file/row-group level via footer statistics.

The reference has no storage layout at all (it reads whatever it is
handed, SRC/utils/IO.scala:37-49); these are extension operators for the
training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]
                      ) -> None:
    """Hive-partitioned parquet write, replacing ``path``. Keep
    ``partition_cols`` low-cardinality (lang, date, source bucket): each
    distinct tuple becomes a directory, and small-file explosion at high
    cardinality is the classic failure mode. At 100 TB, partition on the
    columns every query filters by."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_clustered(df: DataFrame, path: str, sort_cols: list[str],
                    num_files: int | None = None) -> None:
    """Range-clustered parquet write, replacing ``path``: globally
    range-partition on ``sort_cols`` (sampled range boundaries — one
    shuffle), then sort within each partition so every output file covers a
    tight key range. Range scans then read only the files whose footer
    [min,max] intersects the predicate — the poor man's clustered index, and
    the layout that makes `l_shipdate BETWEEN …` queries cheap at 100 TB."""
    out = (df.repartitionByRange(num_files, *sort_cols) if num_files
           else df.repartitionByRange(*sort_cols))
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def file_stats(spark, path: str):
    """Per-file rows/bytes for a parquet dataset — the small-files
    detector. Footer metadata only (no data read), computed driver-side
    over the file listing; at 100 TB the listing is thousands of entries,
    not billions — this is an ops utility, not a data-path operator."""
    import glob
    import os

    import pyarrow.parquet as pq

    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        rows.append((os.path.basename(f), md.num_rows,
                     os.path.getsize(f), md.num_row_groups))
    return spark.createDataFrame(
        rows, "file string, n_rows long, n_bytes long, n_row_groups long")


def compact(spark, src: str, dest: str,
            target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_file_bytes)`` evenly-sized files.
    Returns the output file count.

    Streaming ingest and over-parallel writes leave datasets as thousands
    of KB-scale files; every downstream scan then pays per-file open/
    footer costs and the driver pays listing time. Compaction to
    ~128 MB files is the standard maintenance pass. A full repartition
    (not coalesce) is used so output files are even-sized — coalesce
    would merge adjacent partitions and inherit their skew."""
    import glob
    import math
    import os

    total = sum(os.path.getsize(f)
                for f in glob.glob(os.path.join(src, "part-*.parquet")))
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).repartition(n).write.mode("overwrite") \
        .parquet(dest)
    return n


#: Bits per column in write_zordered's Morton key: 256 cells per column.
ZORDER_BITS = 8


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   num_files: int) -> None:
    """Z-order (Morton-curve) clustered parquet write, replacing ``path``,
    on two or more numeric columns: bucket each column to ``2**ZORDER_BITS``
    equal-width cells from its global [min,max], interleave the bucket bits
    into one Morton key, then range-partition + sort on that key. Each
    output file then covers a small hyper-rectangle of the key space, so
    footer min/max statistics prune range predicates on ANY of the clustered
    columns — the multi-dimensional generalization of ``write_clustered``,
    which keeps only its first sort column selective (Delta/Iceberg's
    OPTIMIZE ZORDER does exactly this at 100 TB).

    All native: one tiny min/max agg drives the bucketing literals; the
    interleave is an unrolled shift-and-mask expression; the only shuffle
    is the range partitioning the write needs anyway."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    b = df.agg(*aggs).collect()[0]

    n_cells = 1 << ZORDER_BITS
    buckets = []
    for c in cols:
        mn, mx = float(b[f"mn_{c}"]), float(b[f"mx_{c}"])
        if mx == mn:
            buckets.append(F.lit(0).cast("long"))
            continue
        cell = F.floor((F.col(c).cast("double") - mn)
                       * (n_cells / (mx - mn))).cast("long")
        buckets.append(F.least(cell, F.lit(n_cells - 1)))

    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        for j, bc in enumerate(buckets):
            bit = F.shiftright(bc, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * k + j)

    (df.withColumn("__z", z)
       .repartitionByRange(num_files, "__z")
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode("overwrite").parquet(path))
