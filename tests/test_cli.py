"""End-to-end CLI (python -m spark_sentiment_spark): the reference's three
entry paths driven through the argparse surface. main() is called in-process
(get_spark reuses the test session via getOrCreate) so no second JVM spins
up; spark.stop() is monkeypatched out to keep the shared fixture alive."""

import os

import pytest


@pytest.fixture()
def keep_session_alive(spark, monkeypatch):
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    return spark


@pytest.fixture()
def tweets_csv(spark, tmp_path):
# word-list extraction keeps words with in-document frequency >= 2 in >= 5
    # docs of a category (reference minTF/minDF), so the fixture repeats its
    # sentiment words inside each text
    rows = [
        (0, "love love this great great happy happy wonderful product yes", 1),
        (1, "terrible terrible bad bad awful awful experience it was not", 0),
        (2, "nice nice day and good good mood mood for everyone here", 1),
        (3, "worst worst sad sad broken broken thing I ever used", 0),
    ] * 25
    df = spark.createDataFrame(rows, ["id", "text", "polarity"])
    dest = str(tmp_path / "tweets")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dest)
    part = next(f for f in os.listdir(dest) if f.endswith(".csv"))
    final = str(tmp_path / "tweets.csv")
    os.rename(os.path.join(dest, part), final)
    return final


def test_cli_analyze_wordscore(keep_session_alive, tweets_csv, tmp_path,
                               capsys):
    from spark_sentiment_spark.__main__ import main

    out = str(tmp_path / "scored")
    rc = main(["--input", tweets_csv, "--method", "word-score",
               "--output", out, "--show", "3"])
    assert rc == 0
    spark = keep_session_alive
    scored = spark.read.parquet(out)
    assert scored.count() == 100
    assert "computed" in scored.columns


def test_cli_train_wordscore_lists(keep_session_alive, tweets_csv, tmp_path):
    from spark_sentiment_spark.__main__ import main

    dest = str(tmp_path / "lists")
    rc = main(["--input", tweets_csv, "--train", "--method", "word-score",
               "--label-column", "polarity", "--output", dest])
    assert rc == 0
    cats = sorted(os.listdir(dest))
    assert len(cats) == 2
    spark = keep_session_alive
    for cat in cats:
        words = spark.read.text(f"{dest}/{cat}")
        assert words.count() > 0


def test_cli_missing_model_errors(keep_session_alive, tweets_csv):
    from spark_sentiment_spark.__main__ import main

    rc = main(["--input", tweets_csv, "--method", "mlib"])
    assert rc == 2


def test_cli_stem_defaults_on_with_no_stem_optout():
    """Reference parity: stem=true by default, --no-stem opts out
    (Sentiment.scala:27,208)."""
    from spark_sentiment_spark.__main__ import build_parser

    p = build_parser()
    assert p.parse_args(["--input", "x"]).stem is True
    assert p.parse_args(["--input", "x", "--no-stem"]).stem is False
    assert p.parse_args(["--input", "x", "--stem"]).stem is True


def test_cli_multi_input_gets_per_input_outputs(keep_session_alive,
                                                tweets_csv, tmp_path):
    """Two inputs + one --output must not clobber each other: each input
    lands in its own subpath (index-suffixed on basename collision)."""
    from spark_sentiment_spark.__main__ import _per_input_outputs, main

    assert _per_input_outputs(["a/t.csv", "b/t.csv", "c/u.csv"], "out") == \
        ["out/t", "out/t_1", "out/u"]
    assert _per_input_outputs(["a/t.csv"], "out") == ["out"]
    assert _per_input_outputs(["a/t.csv", "b/u.csv"], None) == [None, None]

    out = str(tmp_path / "scored")
    rc = main(["--input", tweets_csv, "--input", tweets_csv,
               "--method", "word-score", "--output", out])
    assert rc == 0
    spark = keep_session_alive
    base = "tweets"
    first = spark.read.parquet(f"{out}/{base}")
    second = spark.read.parquet(f"{out}/{base}_1")
    assert first.count() == 100 and second.count() == 100


def test_cli_list_queries(capsys):
    from spark_sentiment_spark.__main__ import main

    rc = main(["--list-queries"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "dedup_exact\tdedup_queries\toracle" in out
    assert "hybrid_search_rrf" in out
    assert len(out.strip().splitlines()) >= 120


def test_cli_runs_catalog_query_to_output(keep_session_alive, tmp_path):
    from tests.conftest import SF_DIR

    from spark_sentiment_spark.__main__ import main

    out = str(tmp_path / "profile")
    rc = main(["--query", "profile_columns", "--sf-dir", SF_DIR,
               "--output", out])
    assert rc == 0
    got = keep_session_alive.read.parquet(out)
    assert got.count() == 4
    assert "mean" in got.columns


def test_cli_unknown_query_errors(keep_session_alive):
    from spark_sentiment_spark.__main__ import main

    assert main(["--query", "no_such_query"]) == 2


def test_cli_no_input_no_query_errors():
    from spark_sentiment_spark.__main__ import main

    assert main([]) == 2
