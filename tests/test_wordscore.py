"""Word-score operator tests, incl. the differential check of the native plan
vs a direct Python transcription of PlainTextAnalyser.computeSentiment
(SURVEY §5.2.4)."""

import pytest
from pyspark.sql import functions as F

from spark_sentiment_spark.functions.text import clean_text_col
from spark_sentiment_spark.operators.wordscore import (
    compute_sentiment_py,
    score_documents,
    score_documents_raw,
)
from tests.conftest import load


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, "documents").limit(100).cache()


def test_raw_scores_bounded(spark, docs):
    rows = score_documents_raw(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert -1.0 <= r["sentiment"] <= 1.0


def test_full_matches_python_transcription(spark, docs):
    got = {
        r["doc_id"]: r["sentiment"]
        for r in score_documents(docs).select("doc_id", "sentiment").collect()
    }
    cleaned = docs.select(
        "doc_id", clean_text_col("text").alias("clean")
    ).collect()
    for row in cleaned:
        expected = compute_sentiment_py(row["clean"])
        assert got[row["doc_id"]] == pytest.approx(expected, abs=1e-9), (
            f"doc {row['doc_id']}"
        )


def test_known_sentences(spark):
    df = spark.createDataFrame(
        [(1, "this is nice and happy"), (2, "bad badly awful"),
         (3, "zzz qqq xxx"), (4, None)],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r["sentiment"]
            for r in score_documents(df).collect()}
    assert rows[1] > 0
    assert rows[2] < 0
    assert rows[3] == 0.0
    assert rows[4] == 0.0  # null text → no tokens → 0.0
