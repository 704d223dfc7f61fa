"""The lexicon-sized literals of the cleaning chain: the emoji map and the
stop-word array. Each is checked against a plain Python reference over the
whole lexicon, under the SQL parser confs that change how string literals
read, and the Column that carries them must stay cheap to build."""

import pytest

from spark_sentiment_spark.functions.lexicon import emoji_dict
from spark_sentiment_spark.functions.text import (
    clean_source,
    emoji_to_word_col,
    remove_stopwords_col,
)
from tests.plan_walk import expressions, walk

PARSER_CONFS = [
    {},
    {"spark.sql.parser.escapedStringLiterals": "true"},
    {"spark.sql.ansi.doubleQuotedIdentifiers": "true"},
]


@pytest.fixture(params=PARSER_CONFS, ids=lambda c: ",".join(c) or "default")
def parser_conf(spark, request):
    """Run the test under one parser conf, restoring the session after."""
    before = {k: spark.conf.get(k, None) for k in request.param}
    for k, v in request.param.items():
        spark.conf.set(k, v)
    yield
    for k, v in before.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _apply(spark, col_fn, strings):
    """[(input, output)] of ``col_fn`` over ``strings``, in input order."""
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    rows = df.select("i", col_fn("s").alias("out")).orderBy("i").collect()
    return [(strings[r["i"]], r["out"]) for r in rows]


def test_emoji_to_word_matches_python_substitution(spark, parser_conf):
    d = emoji_dict()
    keys = sorted(d)
    strings = keys + [" ".join(keys[i:i + 7]) for i in range(0, len(keys), 7)]
    strings += [None, "", "no emoji here", "a  b"]
    for s, out in _apply(spark, emoji_to_word_col, strings):
        want = None if s is None else " ".join(d.get(t, t)
                                               for t in s.split(" "))
        assert out == want, s


def test_lexicon_literals_are_folded_out_of_the_row_path(spark):
    df = spark.createDataFrame([("x",)], "s string")
    plan = (df.select(emoji_to_word_col("s").alias("e"),
                      remove_stopwords_col("s").alias("w"))
            ._jdf.queryExecution().optimizedPlan())
    # no JSON parse left: neither the expression nor an invoke of its
    # evaluator
    parsers = [e.nodeName() for n in walk(plan) for e in expressions(n)
               if "JsonToStructs" in e.nodeName()
               or "JsonToStructs" in e.dataType().toString()]
    assert not parsers, parsers


def test_remove_stopwords_matches_python_filter(spark, parser_conf):
    from pyspark.ml.feature import StopWordsRemover

    sw = StopWordsRemover.loadDefaultStopWords("english")
    lowered = {w.lower() for w in sw}
    strings = sw + [w.upper() for w in sw] + [" ".join(sw)]
    strings += [None, "", "The cat and THE dog the cat", "cat cat  dog",
                "don't won't it's :'( :\\"]
    for s, out in _apply(spark, remove_stopwords_col, strings):
        want = None if s is None else " ".join(
            t for t in s.split(" ") if t.lower() not in lowered)
        assert out == want, s


def test_clean_source_build_stays_under_500_py4j_commands(spark,
                                                          monkeypatch):
    """Building the tweet-cleaning Column made about 8,800 py4j commands
    when every emoji and stop word was its own ``F.lit``. The first build in
    a process also reads the stop words from the JVM, once; the guard
    counts a build after it.

    The window counts the building thread's commands only, with the cyclic
    garbage collector held off. A collection inside the window sends the
    detach messages of earlier tests' unreachable py4j objects, and other
    threads (a streaming query's foreachBatch callbacks, a progress
    listener) send commands of their own; neither is the build's cost."""
    import collections
    import gc
    import threading

    df = spark.createDataFrame([("RT @a :) the best http://x",)], "t string")
    clean_source(df, "t", "out", stem=True)
    gc.collect()
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    builder = threading.get_ident()
    calls = []

    def counting(command, *args, **kwargs):
        calls.append((threading.get_ident(), command.split("\n", 1)[0]))
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    gc.disable()
    try:
        clean_source(df, "t", "out", stem=True)
    finally:
        gc.enable()
        monkeypatch.undo()
    own = [kind for thread, kind in calls if thread == builder]
    others = collections.Counter(kind for thread, kind in calls
                                 if thread != builder)
    assert len(own) < 500, (len(own), collections.Counter(own), others)
