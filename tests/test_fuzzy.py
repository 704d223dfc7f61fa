"""J3: fuzzy Levenshtein lexicon fallback (opt-in theta-join)."""

import pytest

from tests.plan_walk import has, nodes, python_nodes


def test_fuzzy_scores_prefer_smallest_distance(spark):
    from spark_sentiment_spark.operators.wordscore import fuzzy_lexicon_scores

    toks = spark.createDataFrame(
        [("happpy",), ("awfull",), ("zzzzqqq",)], "token string")
    got = {r["token"]: r for r in fuzzy_lexicon_scores(toks).collect()}
    # 'happpy' is distance 1 from 'happy' (+1): positive
    assert got["happpy"]["distance"] == 1
    assert got["happpy"]["fuzzy_score"] > 0
    # 'awfull' is distance 1 from 'awful' (-1): negative
    assert got["awfull"]["distance"] == 1
    assert got["awfull"]["fuzzy_score"] < 0
    # gibberish beyond distance 3 from everything: no row
    assert "zzzzqqq" not in got


def test_fuzzy_plan_is_native_broadcast(spark):
    from spark_sentiment_spark.operators.wordscore import fuzzy_lexicon_scores

    toks = spark.createDataFrame([("happpy",)], "token string")
    ns = nodes(fuzzy_lexicon_scores(toks))
    assert has(ns, "Broadcast")
    assert not python_nodes(ns)  # no python UDFs
