"""Layout writers must actually enable pruning: partition filters in the
scan for hive partitioning, near-disjoint per-file footer ranges for
range clustering."""

import glob
import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.plan_walk import nodes, partition_filters, references, scans


def test_partitioned_write_prunes_directories(spark, tmp_path):
    from spark_sentiment_spark.sources.layout import write_partitioned

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dest = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, dest, ["lang"])

    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    assert all(os.path.isdir(os.path.join(dest, f"lang={l}")) for l in langs)

    back = spark.read.parquet(dest).where(F.col("lang") == "en")
    assert any("lang" in references(f)
               for s in scans(nodes(back)) for f in partition_filters(s))
    # correctness: partition column round-trips
    want = docs.where(F.col("lang") == "en").count()
    assert back.count() == want


def test_clustered_write_tightens_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq

    from spark_sentiment_spark.sources.layout import write_clustered

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    dest = str(tmp_path / "lineitem_by_orderkey")
    write_clustered(li, dest, ["l_orderkey"], num_files=8)

    files = sorted(glob.glob(f"{dest}/part-*.parquet"))
    assert len(files) >= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = next(i for i in range(md.num_columns)
                       if md.row_group(0).column(i).path_in_schema
                       == "l_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # each file covers a tight range: consecutive files may touch at the
    # boundary but must not substantially overlap
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert lo2 >= hi1 - 1, (ranges,)

    # row count survives the re-layout
    assert spark.read.parquet(dest).count() == li.count()


def test_compaction_merges_small_files(spark, tmp_path):
    from spark_sentiment_spark.sources.layout import compact, file_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fragmented = str(tmp_path / "fragmented")
    docs.repartition(32).write.parquet(fragmented)
    stats = file_stats(spark, fragmented)
    assert stats.count() == 32

    compacted = str(tmp_path / "compacted")
    n = compact(spark, fragmented, compacted, target_file_bytes=1 << 30)
    assert n == 1
    out_stats = file_stats(spark, compacted).collect()
    assert len(out_stats) == 1
    # correctness: nothing lost or duplicated
    back = spark.read.parquet(compacted)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == \
        docs.select("doc_id").distinct().count()


def test_zordered_write_tightens_ranges_on_both_dims(spark, tmp_path):
    """Z-ordering on (l_orderkey, l_partkey) must leave BOTH columns'
    per-file footer ranges well below the global range — 1-D clustering
    can only do that for its first sort column — while losing no rows."""
    import pyarrow.parquet as pq

    from spark_sentiment_spark.sources.layout import write_zordered

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    dest = str(tmp_path / "lineitem_zorder")
    write_zordered(li, dest, ["l_orderkey", "l_partkey"], num_files=16)

    files = sorted(glob.glob(f"{dest}/part-*.parquet"))
    assert len(files) >= 8

    def file_ranges(col):
        spans = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = next(i for i in range(md.num_columns)
                       if md.row_group(0).column(i).path_in_schema == col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append(max(maxs) - min(mins))
        return spans

    for col in ("l_orderkey", "l_partkey"):
        mn, mx = li.agg(F.min(col), F.max(col)).first()
        global_span = mx - mn
        spans = file_ranges(col)
        mean_span = sum(spans) / len(spans)
        assert mean_span <= 0.6 * global_span, (col, mean_span, global_span)

    assert spark.read.parquet(dest).count() == li.count()
