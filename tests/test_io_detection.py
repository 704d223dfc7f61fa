"""IO layer (S1-S17) + schema-role detection (Detection.scala semantics)."""

import os

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def tmpdata(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("io")
    comma = root / "comma.csv"
    comma.write_text(
        "id,label,text\n"
        "1,0,the quick brown fox jumps over the dog\n"
        "2,1,a completely different longer sentence with many words\n"
        "3,0,yet another line of free text tokens here\n"
    )
    pipe = root / "pipe.csv"
    pipe.write_text("a|b\n1|hello world\n2|goodbye moon\n")
    noheader = root / "nohead.csv"
    noheader.write_text("1,2.5,xyz\n2,3.5,abc\n3,4.5,def\n")
    quoted = root / "quoted.csv"
    quoted.write_text(
        'id,text\n'
        '1,"a quoted sentence with several words inside"\n'
        '2,"another quoted free text field right here"\n'
    )
    return root


def test_find_delimiter(spark, tmpdata):
    from spark_sentiment_spark.sources.io import find_delimiter

    assert find_delimiter(spark, str(tmpdata / "comma.csv")) == ","
    assert find_delimiter(spark, str(tmpdata / "pipe.csv")) == "|"


def test_has_header(spark, tmpdata):
    from spark_sentiment_spark.sources.io import has_header

    assert has_header(spark, str(tmpdata / "comma.csv"), ",") is True
    assert has_header(spark, str(tmpdata / "nohead.csv"), ",") is False


def test_has_header_runs_one_job(spark, tmpdata):
    """The 20-record sample is one text scan; Spark's CSV tokenizer splits
    it on the driver, so no second job counts the columns."""
    from spark_sentiment_spark.sources.io import has_header

    sc = spark.sparkContext
    sc.setJobGroup("has_header_jobs", "has_header")
    try:
        assert has_header(spark, str(tmpdata / "comma.csv"), ",") is True
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("has_header_jobs")) == 1


def test_cold_sniffed_load_reads_the_head_once(spark, tmp_path):
    """A sniffed load of a new file is one read of the head, which serves
    the delimiter, header and escape sniffs, plus inferSchema's two
    jobs."""
    from spark_sentiment_spark.sources.io import load

    path = tmp_path / "cold.csv"
    path.write_text("id,label,text\n"
                    "1,0,the quick brown fox jumps over the dog\n"
                    "2,1,a completely different longer sentence here\n")
    sc = spark.sparkContext
    sc.setJobGroup("cold_sniffed_load", "io.load")
    try:
        df, _ = load(spark, str(path))
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert df.columns == ["id", "label", "text"]
    assert len(sc.statusTracker().getJobIdsForGroup("cold_sniffed_load")) == 3


def test_sniffs_skip_blank_lines_like_the_reader(spark, tmp_path):
    """The reader skips blank lines, so the sniffs do too: a leading blank
    line still gives the delimiter the reader's columns need."""
    from spark_sentiment_spark.sources.io import find_delimiter, load

    path = tmp_path / "blank_head.csv"
    path.write_text("\n   \nid,label,text\n"
                    "1,0,the quick brown fox jumps over the dog\n"
                    "2,1,a completely different longer sentence here\n")
    assert find_delimiter(spark, str(path)) == ","
    df, _ = load(spark, str(path))
    assert df.columns == ["id", "label", "text"]
    assert df.count() == 2


def test_detect_escape(spark, tmpdata):
    from spark_sentiment_spark.sources.io import detect_escape

    assert detect_escape(spark, str(tmpdata / "quoted.csv"), ",") == '"'
    assert detect_escape(spark, str(tmpdata / "pipe.csv"), "|") is None


def test_load_csv_sniffed(spark, tmpdata):
    from spark_sentiment_spark.sources.io import load

    df, ftype = load(spark, str(tmpdata / "comma.csv"))
    assert ftype == "csv"
    assert df.columns == ["id", "label", "text"]
    assert df.count() == 3
    # inferSchema gave ints for id/label
    assert dict(df.dtypes)["id"] in ("int", "bigint")


def test_load_dispatch_and_save_roundtrip(spark, tmpdata, tmp_path):
    from spark_sentiment_spark.sources.io import infer_filetype, load, save

    assert infer_filetype("x/y/z.json") == "json"
    assert infer_filetype("x/data.PARquet") == "parquet"
    assert infer_filetype("x/notes.txt") == "txt"
    assert infer_filetype("x/unknown.bin") is None

    df, _ = load(spark, str(tmpdata / "comma.csv"))
    for fmt in ("json", "csv", "parquet"):
        out = str(tmp_path / f"out_{fmt}")
        save(df, out, fmt)
        back, _ = load(spark, out, filetype=fmt)
        assert back.count() == 3
    # txt sink requires single string column
    save(df.selectExpr("text AS value"), str(tmp_path / "out_txt"), "txt",
         single_file=True)
    back, _ = load(spark, str(tmp_path / "out_txt"), filetype="txt")
    assert back.count() == 3
    # single_file=True → exactly one part file
    parts = [f for f in os.listdir(tmp_path / "out_txt")
             if f.startswith("part-")]
    assert len(parts) == 1


def test_load_unknown_raises(spark):
    from spark_sentiment_spark.sources.io import load

    with pytest.raises(ValueError):
        load(spark, "/nonexistent/blob.bin")


# --- Detection ---------------------------------------------------------------

@pytest.fixture(scope="module")
def labeled_df(spark):
    rows = [
        (i, i % 3, float(i) * 1.5,
         f"this is a longer fragment of free running text number {i} with words",
         "catA" if i % 2 == 0 else "catB")
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "id int, label int, score double, body string, tag string")


def test_detect_roles(labeled_df):
    from spark_sentiment_spark.operators.detection import detect_roles

    roles = detect_roles(labeled_df)
    assert roles["text"] == "body"
    assert roles["index"] == "id"
    assert roles["categorical"] == "label"
    assert roles["value"] == "score"


def test_detect_text_on_documents(spark):
    from spark_sentiment_spark.operators.detection import detect_text_column

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert detect_text_column(docs) == "text"


def test_detect_index_requires_uniqueness(spark):
    from spark_sentiment_spark.operators.detection import detect_index_column

    df = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "a int, b int")
    assert detect_index_column(df) == "a"
    # two distinct-valued int columns → ambiguous → None
    df2 = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "a int, b int")
    assert detect_index_column(df2) is None


def test_detect_categorical_string_fallback(spark):
    from spark_sentiment_spark.operators.detection import (
        detect_categorical_column)

    df = spark.createDataFrame(
        [(i, "yes" if i % 2 else "no") for i in range(20)],
        "id int, verdict string")
    # id is all-distinct (not categorical); verdict is single-word strings
    assert detect_categorical_column(df) == "verdict"


def test_convert_categorical(spark):
    from spark_sentiment_spark.operators.detection import (
        convert_categorical_column, extract_categories)

    df = spark.createDataFrame(
        [(1, "neg"), (2, "pos"), (3, "neg"), (4, "neu")], "id int, lab string")
    out, col = convert_categorical_column(df, "lab")
    assert col == "converted_categorical"
    codes = {r["lab"]: r[col] for r in out.collect()}
    assert codes == {"neg": 0, "neu": 1, "pos": 2}   # alphabetic dense codes
    assert extract_categories(df, "lab") == ["neg", "neu", "pos"]
    # integer column passes through untouched
    out2, col2 = convert_categorical_column(df, "id")
    assert col2 == "id" and out2 is df


def test_orc_roundtrip(spark, tmp_path):
    from spark_sentiment_spark.sources.io import load, save

    df = spark.range(100).withColumnRenamed("id", "v")
    dest = str(tmp_path / "data.orc")
    save(df, dest, filetype="orc")
    back, ftype = load(spark, dest)        # extension dispatch
    assert ftype == "orc"
    assert back.count() == 100
    assert sorted(r.v for r in back.collect()) == list(range(100))


def test_merge_schema_reads_evolved_table(spark, tmp_path):
    """Schema evolution: files written before a column existed read back
    with nulls when merge_schema=True; the default (off) serves the
    first-footer schema."""
    from spark_sentiment_spark.sources.io import load

    d = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], "id long, s string") \
        .write.parquet(d)
    spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double") \
        .write.mode("append").parquet(d)

    df, ftype = load(spark, d, filetype="parquet", merge_schema=True)
    assert ftype == "parquet"
    assert set(df.columns) == {"id", "s", "score"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
