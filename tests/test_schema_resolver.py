"""Schema resolver (``sources.io._resolve``): a repeated read of an unchanged
file starts no Spark job and returns what a fresh inference returns; a new
file version, a changed inference conf or other reader options infer
again."""

import contextlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR

TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")


def _jobs(spark) -> int:
    """Jobs the context has started: job ids count up from 0, so this is
    the next one. The status store's job list would not do: it is trimmed
    by a tenth once it holds spark.ui.retainedJobs, so in a long session
    its size can fall while jobs run."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _with_jobs(spark, read):
    """(result of read(), Spark jobs it started)."""
    before = _jobs(spark)
    out = read()
    return out, _jobs(spark) - before


def _rows(df):
    return sorted(map(repr, df.collect()))


def _fresh(read):
    """read() with the resolver emptied, so Spark infers again."""
    from spark_sentiment_spark.sources import io

    saved = dict(io._RESOLVED)
    io._RESOLVED.clear()
    try:
        return read()
    finally:
        io._RESOLVED.clear()
        io._RESOLVED.update(saved)


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("table", TABLES)
def test_repeated_catalog_load_starts_no_job(spark, table):
    from spark_sentiment_spark.plans import registry

    registry.load(spark, SF_DIR, table)
    again, jobs = _with_jobs(
        spark, lambda: registry.load(spark, SF_DIR, table))
    assert jobs == 0
    fresh = _fresh(lambda: registry.load(spark, SF_DIR, table))
    assert again.schema == fresh.schema
    assert _rows(again) == _rows(fresh)


def test_repeated_sniffed_csv_load_starts_no_job(spark, tmp_path):
    from spark_sentiment_spark.sources.io import load

    path = str(tmp_path / "tweets.csv")
    with open(path, "w") as f:
        f.write("polarity,id,text\n")
        for i in range(30):
            f.write(f'{4 * (i % 2)},{i},"tweet number {i} has a few words"\n')
    first, jobs = _with_jobs(spark, lambda: load(spark, path)[0])
    assert jobs > 0
    again, jobs = _with_jobs(spark, lambda: load(spark, path)[0])
    assert jobs == 0
    fresh = _fresh(lambda: load(spark, path)[0])
    assert again.schema == fresh.schema == first.schema
    assert again.columns == ["polarity", "id", "text"]
    assert _rows(again) == _rows(fresh)


def test_csv_rewritten_in_place_is_inferred_again(spark, tmp_path):
    from spark_sentiment_spark.sources.io import load

    path = tmp_path / "data.csv"
    path.write_text("a,b\n1,x y z\n2,p q r\n")
    assert load(spark, str(path))[0].columns == ["a", "b"]
    path.write_text("a,b,c\n1,2.5,x y z w\n2,3.5,p q r s\n")
    df, _ = load(spark, str(path))
    assert df.columns == ["a", "b", "c"]
    assert dict(df.dtypes)["b"] == "double"
    assert df.count() == 2


def test_parquet_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    from spark_sentiment_spark.sources.io import load

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load(spark, path)[0].columns == ["k"]
    pq.write_table(pa.table({"k": [3], "v": ["new"]}), path)
    df, _ = load(spark, path)
    assert df.columns == ["k", "v"]
    assert [tuple(r) for r in df.collect()] == [(3, "new")]


def test_directory_overwritten_by_spark_is_inferred_again(spark, tmp_path):
    from spark_sentiment_spark.sources.io import load

    path = str(tmp_path / "dir.parquet")
    spark.createDataFrame([(1, "a")], "id long, s string") \
        .write.mode("overwrite").parquet(path)
    assert load(spark, path)[0].columns == ["id", "s"]
    spark.createDataFrame([(2, 0.5)], "id long, score double") \
        .write.mode("overwrite").parquet(path)
    df, _ = load(spark, path)
    assert df.columns == ["id", "score"]
    assert [tuple(r) for r in df.collect()] == [(2, 0.5)]


def test_inference_conf_change_infers_again(spark, tmp_path):
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from spark_sentiment_spark.sources.io import load

    path = str(tmp_path / "naive_ts.parquet")
    pq.write_table(pa.table({"ts": pa.array([0, 1], pa.timestamp("us"))}),
                   path)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    with _conf(spark, key, "true"):
        df, _ = load(spark, path)
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
    with _conf(spark, key, "false"):
        df, jobs = _with_jobs(spark, lambda: load(spark, path)[0])
        assert jobs > 0
        assert isinstance(df.schema["ts"].dataType, TimestampType)


def test_nanos_as_long_change_infers_again(spark, tmp_path):
    from pyspark.sql.types import LongType

    from spark_sentiment_spark.sources.io import load, load_parquet_utc

    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}),
                   path, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with _conf(spark, key, "true"):
        df, _ = load(spark, path)
        assert isinstance(df.schema["ts"].dataType, LongType)
    with _conf(spark, key, "false"):
        # Reusing the long-typed answer would hide that this read fails.
        with pytest.raises(Exception):
            load(spark, path)
        # The catalog read sets the conf again and retries.
        df = load_parquet_utc(spark, path)
        assert spark.conf.get(key) == "true"
        assert isinstance(df.schema["ts"].dataType, LongType)
        assert sorted(r.ts for r in df.collect()) == [1, 2]


def test_explicit_csv_options_are_cached_apart(spark, tmp_path):
    from spark_sentiment_spark.sources.io import load

    path = str(tmp_path / "opts.csv")
    with open(path, "w") as f:
        f.write("id,text\n1,first line of words\n2,second line of words\n")
    sniffed, _ = load(spark, path)
    raw, _ = load(spark, path, header=False)
    piped, _ = load(spark, path, delimiter="|", header=True)
    assert sniffed.columns == ["id", "text"] and sniffed.count() == 2
    assert raw.columns == ["_c0", "_c1"] and raw.count() == 3
    assert piped.columns == ["id,text"] and piped.count() == 2
    again, jobs = _with_jobs(spark, lambda: load(spark, path)[0])
    assert jobs == 0 and again.columns == ["id", "text"]
    quoted, jobs = _with_jobs(
        spark, lambda: load(spark, path, escape="'")[0])
    assert jobs > 0 and quoted.columns == ["id", "text"]


def test_merge_schema_is_cached_apart(spark, tmp_path):
    from spark_sentiment_spark.sources.io import load

    d = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(d)
    spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double") \
        .write.mode("append").parquet(d)
    plain = load(spark, d, filetype="parquet")[0].columns
    merged = load(spark, d, filetype="parquet", merge_schema=True)[0]
    assert set(merged.columns) == {"id", "s", "score"}
    again, jobs = _with_jobs(
        spark, lambda: load(spark, d, filetype="parquet")[0])
    assert jobs == 0 and again.columns == plain


def test_uri_paths_are_not_cached(spark, tmp_path):
    from spark_sentiment_spark.sources import io

    path = tmp_path / "uri.csv"
    path.write_text("a,b\n1,x y z\n2,p q r\n")
    uri = path.as_uri()
    io.load(spark, uri)
    _, jobs = _with_jobs(spark, lambda: io.load(spark, uri))
    assert jobs > 0
    assert not [key for key in io._RESOLVED if "uri.csv" in key[1]]
