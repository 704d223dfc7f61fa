"""MLlib pipeline (M1-M12): determinism, accuracy gate, save/load parity
(SURVEY.md §5.2.3)."""

import pytest
from pyspark.sql import functions as F


POS_WORDS = ["good", "great", "happy", "love", "excellent", "wonderful"]
NEG_WORDS = ["bad", "awful", "sad", "hate", "terrible", "horrible"]
FILL = ["the", "a", "movie", "film", "today", "yesterday", "thing", "story"]


@pytest.fixture(scope="module")
def labeled_corpus(spark):
    """Deterministic synthetic labeled corpus: label 1 rows draw from the
    positive vocabulary, label 0 from the negative one."""
    import random

    rng = random.Random(13)
    rows = []
    for i in range(400):
        label = i % 2
        vocab = POS_WORDS if label else NEG_WORDS
        words = [rng.choice(vocab) for _ in range(4)] + \
                [rng.choice(FILL) for _ in range(4)]
        rng.shuffle(words)
        rows.append((i, label, " ".join(words)))
    return spark.createDataFrame(rows, "id int, label int, text string")


@pytest.fixture(scope="module")
def trained(labeled_corpus):
    from spark_sentiment_spark.operators.mllib_pipeline import train

    # naivebayes: cheapest family; sweep exercises the grid machinery.
    return train(labeled_corpus, "text", classifier="naivebayes",
                 parallelism=2)


def test_accuracy_above_reference_gate(trained):
    # Reference gate: < 0.65 is "Precision SUCKS" (MlLib...scala:78).
    assert trained.precision >= 0.65
    assert trained.classifier == "naivebayes"


def test_prediction_schema(trained, labeled_corpus):
    from spark_sentiment_spark.operators.mllib_pipeline import score_model

    out = score_model(labeled_corpus, trained.model)
    assert "prediction" in out.columns
    # intermediates dropped (P3)
    for col in ("words", "tf", "tfidf", "rawPrediction", "probability"):
        assert col not in out.columns
    # prediction matches the planted signal almost everywhere
    agreement = out.agg(
        F.avg((F.col("prediction") == F.col("label")).cast("double"))
    ).first()[0]
    assert agreement >= 0.9


def test_save_load_roundtrip(trained, labeled_corpus, tmp_path):
    from spark_sentiment_spark.operators.mllib_pipeline import (load_model,
                                                                score_model)

    path = str(tmp_path / "model")
    trained.save(path)
    back = load_model(path)
    a = score_model(labeled_corpus, trained.model).select("id", "prediction")
    b = score_model(labeled_corpus, back).select("id", "prediction")
    assert a.exceptAll(b).count() == 0


@pytest.fixture(scope="module")
def sentiment140_corpus(spark):
    """A Sentiment140-SHAPED fixture: the reference's real input format
    (polarity 0/4, id, date, query, user, text — the CSV schema
    Sentiment.scala feeds to mlib). Label detection must find `polarity`
    through the Detection cascade (no double column, no uniquely numeric
    string column → the one low-cardinality int column), exactly the
    path MlLibSentimentAnalyser.prepare:86-104 takes on the real data."""
    import random

    rng = random.Random(29)
    rows = []
    for i in range(400):
        polarity = 0 if i % 2 == 0 else 4
        vocab = NEG_WORDS if polarity == 0 else POS_WORDS
        words = [rng.choice(vocab) for _ in range(4)] + \
                [rng.choice(FILL) for _ in range(4)]
        rng.shuffle(words)
        rows.append((polarity, 1467810000 + i,
                     "Mon Apr 06 22:19:45 PDT 2009", "NO_QUERY",
                     f"user{i}", " ".join(words)))
    return spark.createDataFrame(
        rows, "polarity int, id long, date string, query string, "
              "user string, text string")


def test_sentiment140_label_detection(sentiment140_corpus):
    """The detection cascade lands on `polarity`: ids are all-distinct
    (not categorical), date/query/user aren't numeric-first strings."""
    from spark_sentiment_spark.operators.mllib_pipeline import prepare_labels

    labeled, label_col = prepare_labels(sentiment140_corpus)
    assert label_col == "polarity"
    vals = {r[0] for r in labeled.select("score").distinct().collect()}
    assert vals == {0.0, 4.0}


@pytest.mark.parametrize("family", ["logistic", "naivebayes", "maxentropy"])
def test_predicts_in_the_trained_label_space(sentiment140_corpus, family,
                                             tmp_path):
    """Every family predicts Sentiment140's own 0/4 polarity, and a
    saved-then-loaded model predicts the same."""
    from spark_sentiment_spark.operators.mllib_pipeline import (
        accuracy, load_model, score_model, train)

    t = train(sentiment140_corpus, "text", classifier=family, sweep=False)
    out = score_model(t.test_df, t.model)
    assert {r[0] for r in out.select("prediction").distinct().collect()} \
        <= {0.0, 4.0}
    assert t.precision >= 0.65
    assert accuracy(out) >= 0.65
    path = str(tmp_path / "model")
    t.save(path)
    back = score_model(sentiment140_corpus, load_model(path))
    here = score_model(sentiment140_corpus, t.model)
    assert back.select("id", "prediction").exceptAll(
        here.select("id", "prediction")).count() == 0


def test_analyze_mlib_predicts_the_trained_labels(spark, sentiment140_corpus,
                                                  tmp_path):
    from spark_sentiment_spark.analyze import analyze
    from spark_sentiment_spark.operators.mllib_pipeline import train

    model = str(tmp_path / "model")
    train(sentiment140_corpus, "text", classifier="naivebayes",
          sweep=False).save(model)
    csv = str(tmp_path / "tweets")
    sentiment140_corpus.coalesce(1).write.option("header", "true").csv(csv)
    out = analyze(spark, csv, method="mlib", model_path=model,
                  filetype="csv", column="text")
    agree = out.agg(F.avg((F.col("computed") == F.col("polarity"))
                          .cast("double"))).first()[0]
    assert {r[0] for r in out.select("computed").distinct().collect()} \
        <= {0.0, 4.0}
    assert agree >= 0.65


@pytest.mark.slow
def test_train_all_full_sweep_selects_argmax(sentiment140_corpus):
    """M10/M11 end-to-end at reference semantics on the reference's input
    shape: classifier="all" with sweep runs all 33 grid fits + 3 static
    fits (MlLibSentimentAnalyser.scala:36-53 — LR 3x3, NB 6, RF 3x3x2);
    the per-fit audit log lets us recompute the argmax over every fit
    independently of the selection logic."""
    from spark_sentiment_spark.operators.mllib_pipeline import train

    t = train(sentiment140_corpus, "text", classifier="all", parallelism=4)
    assert set(t.family_precisions) == {"logistic", "naivebayes",
                                        "maxentropy"}
    # full fit log: 3 static + 9 LR + 6 NB + 18 RF grid points
    assert len(t.fit_log) == 36
    per_family = {f: [p for fam, _, p in t.fit_log if fam == f]
                  for f in ("logistic", "naivebayes", "maxentropy")}
    assert [len(per_family["logistic"]), len(per_family["naivebayes"]),
            len(per_family["maxentropy"])] == [10, 7, 19]
    # selection == argmax recomputed across all 36 fits
    assert t.precision == max(p for _, _, p in t.fit_log)
    assert t.family_precisions[t.classifier] == t.precision
    for fam, precs in per_family.items():
        assert t.family_precisions[fam] == max(precs)
    # the planted pos/neg vocabulary is separable — the winner must clear
    # the reference's lowest accuracy gate ("Precision SUCKS" < 0.65)
    assert t.precision >= 0.65


def test_deterministic_split(labeled_corpus):
    # seed-0 split is stable across runs (MlLib...scala:125-127)
    s1 = labeled_corpus.randomSplit([0.7, 0.2, 0.1], seed=0)
    s2 = labeled_corpus.randomSplit([0.7, 0.2, 0.1], seed=0)
    for a, b in zip(s1, s2):
        assert a.exceptAll(b).count() == 0


def test_prepare_labels_value_column(spark):
    from spark_sentiment_spark.operators.mllib_pipeline import prepare_labels

    df = spark.createDataFrame(
        [(i, float(i % 2), f"text body number {i} with several words here")
         for i in range(30)],
        "id int, polarity double, text string")
    out, label = prepare_labels(df)
    assert label == "polarity"
    assert "score" in out.columns


def test_prepare_labels_string_categorical(spark):
    from spark_sentiment_spark.operators.mllib_pipeline import prepare_labels

    df = spark.createDataFrame(
        [(i, "pos" if i % 2 else "neg",
          f"text body number {i} with several words here")
         for i in range(30)],
        "id int, sentiment string, text string")
    out, label = prepare_labels(df)
    assert label == "converted_categorical"
    vals = {r["score"] for r in out.select("score").distinct().collect()}
    assert vals == {0.0, 1.0}
