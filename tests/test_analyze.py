"""End-to-end entry-point-A parity: load → detect → clean → score → save
for every method, plus the NLP scorer contract."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def tweet_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("analyze") / "tweets.csv"
    rows = [
        "id,user,text",
        '1,alice,RT @bob this movie was great and wonderful :) http://x.co',
        '2,bob,"what an awful terrible day, everything is bad :("',
        '3,carol,just a neutral statement about the weather today outside',
        '4,dave,i love this happy excellent fantastic product so much',
        '5,erin,hate hate hate this horrible bad experience very sad',
    ]
    p.write_text("\n".join(rows) + "\n")
    return str(p)


def test_analyze_word_score(spark, tweet_csv):
    from spark_sentiment_spark.analyze import analyze

    out = analyze(spark, tweet_csv, method="word-score")
    rows = {r["id"]: r["computed"] for r in out.collect()}
    assert len(rows) == 5
    assert rows[1] > 0 and rows[4] > 0          # positive tweets
    assert rows[2] < 0 and rows[5] < 0          # negative tweets
    assert all(-1.0 <= v <= 1.0 for v in rows.values())


def test_analyze_word_score_keeps_input_row_id(spark, tmp_path):
    """word-score adds its score column and leaves every input column,
    one named _row_id included, as it was."""
    from spark_sentiment_spark.analyze import analyze

    p = tmp_path / "ids.csv"
    p.write_text("_row_id,text\n"
                 "7,what a great happy wonderful day\n"
                 "9,an awful terrible sad day\n")
    out = analyze(spark, str(p), method="word-score", column="text")
    assert "_row_id" in out.columns
    rows = {int(r["_row_id"]): r["computed"] for r in out.collect()}
    assert set(rows) == {7, 9}
    assert rows[7] > 0 > rows[9]


def test_analyze_nlp(spark, tweet_csv):
    from spark_sentiment_spark.analyze import analyze

    out = analyze(spark, tweet_csv, method="nlp")
    rows = {r["id"]: r["computed"] for r in out.collect()}
    assert all(0 <= v <= 4 for v in rows.values())
    assert rows[4] >= 3 and rows[5] <= 1


def test_analyze_explicit_column_and_save(spark, tweet_csv, tmp_path):
    from spark_sentiment_spark.analyze import analyze

    out_path = str(tmp_path / "scored")
    out = analyze(spark, tweet_csv, method="word-score", column="text",
                  output=out_path, output_type="parquet")
    back = spark.read.parquet(out_path)
    assert back.count() == out.count() == 5
    assert "computed" in back.columns


@pytest.mark.slow
def test_analyze_mlib_roundtrip(spark, tweet_csv, tmp_path):
    """Train a tiny model, persist it, score through analyze(method=mlib)."""
    from spark_sentiment_spark.analyze import analyze
    from spark_sentiment_spark.operators.mllib_pipeline import train

    import random

    rng = random.Random(3)
    pos = ["good", "great", "happy", "love"]
    neg = ["bad", "awful", "sad", "hate"]
    rows = [(i, i % 2,
             " ".join(rng.choice(pos if i % 2 else neg) for _ in range(6)))
            for i in range(200)]
    corpus = spark.createDataFrame(rows, "id int, label int, text string")
    trained = train(corpus, "text", classifier="naivebayes", sweep=False)
    model_path = str(tmp_path / "model")
    trained.save(model_path)

    out = analyze(spark, tweet_csv, method="mlib", model_path=model_path)
    assert "computed" in out.columns
    assert out.count() == 5
    for col in ("words", "tf", "tfidf", "rawPrediction", "probability"):
        assert col not in out.columns


def test_unknown_method_raises(spark, tweet_csv):
    from spark_sentiment_spark.analyze import analyze

    with pytest.raises(ValueError):
        analyze(spark, tweet_csv, method="nope")


def test_compute_sentiment_longest_sentence_wins():
    from spark_sentiment_spark.operators.nlp_sentiment import (
        compute_sentiment)

    # longest sentence is negative → document class follows it
    text = "great. this extremely long sentence is awful bad terrible overall."
    assert compute_sentiment(text) <= 1
