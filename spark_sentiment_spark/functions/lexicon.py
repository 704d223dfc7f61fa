"""Sentiment lexicon + emoji map loaders.

Data provenance: ``data/lexicon.csv`` is the public Hu & Liu (2004) opinion
lexicon (the same lists the reference ships as ``src/main/resources/
positive.txt`` / ``negative.txt``; +1.0 / −1.0, one row per original entry).
``data/emoji_map.csv`` is the reference's emoji CSV (native char → description,
SRC/utils/Emoji.scala:29-32) plus its 73 hardcoded emoticons → happy/sad
(SRC/utils/Emoji.scala:9-17).

The reference builds its lookup as ``stem(word) → mean(score)``
(SRC/utils/WordList.scala:9-13); ``stemmed_lexicon_dict`` reproduces that. All
lexicon structures are tiny (≤11k rows) — they ship to executors via broadcast
joins or broadcast variables, never shuffles.
"""

from __future__ import annotations

import csv
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

__all__ = ["lexicon_rows", "raw_lexicon_dict", "stemmed_lexicon_dict",
           "emoji_dict", "raw_lexicon_df", "word_value"]

DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")
LEXICON_CSV = os.path.join(DATA_DIR, "lexicon.csv")
EMOJI_CSV = os.path.join(DATA_DIR, "emoji_map.csv")


@lru_cache(maxsize=1)
def lexicon_rows() -> tuple:
    """Raw (word, score) rows, multiset preserved."""
    with open(LEXICON_CSV, newline="", encoding="utf-8") as f:
        rd = csv.reader(f)
        next(rd)  # header
        return tuple((w, float(s)) for w, s in rd)


@lru_cache(maxsize=1)
def raw_lexicon_dict() -> dict:
    """word → mean(score) at the raw-word level (words in both lists → 0.0)."""
    acc: dict[str, list[float]] = {}
    for w, s in lexicon_rows():
        acc.setdefault(w, []).append(s)
    return {w: sum(v) / len(v) for w, v in acc.items()}


@lru_cache(maxsize=1)
def stemmed_lexicon_dict() -> dict:
    """stem(word) → mean(score), exactly WordList.getAll
    (SRC/utils/WordList.scala:9-13)."""
    from spark_sentiment_spark.functions.stemmer import stem

    acc: dict[str, list[float]] = {}
    for w, s in lexicon_rows():
        acc.setdefault(stem(w), []).append(s)
    return {w: sum(v) / len(v) for w, v in acc.items()}


@lru_cache(maxsize=1)
def emoji_dict() -> dict:
    """token → replacement word (emoji descriptions + happy/sad emoticons)."""
    with open(EMOJI_CSV, newline="", encoding="utf-8") as f:
        rd = csv.reader(f)
        next(rd)
        return {t: w for t, w in rd}


_LEX_SCHEMA = StructType([
    StructField("word", StringType(), False),
    StructField("score", DoubleType(), False),
])


def raw_lexicon_df(spark: SparkSession) -> DataFrame:
    """DataFrame(word, score) with per-word mean — broadcast-join side.

    Read as CSV + aggregated JVM-side: a ``createDataFrame`` over local rows
    would build a pickled Python RDD whose evaluation drags Python workers
    into otherwise pure-JVM query plans."""
    raw = spark.read.schema(_LEX_SCHEMA).option("header", "true").csv(LEXICON_CSV)
    return raw.groupBy("word").agg(F.avg("score").alias("score"))


def word_value(word: str) -> float:
    """Effective WordList.value(word) semantics (SRC/utils/WordList.scala:35-62).

    ``evaluate`` probes the stemmed lexicon with the word, then with its
    duplicate-characters-removed form (Scala ``String.distinct``). The fuzzy
    edit-distance fallback ``dx`` is *dead code in practice*: it returns 0.0
    whenever any lexicon entry is at distance > 3 from the probe
    (SRC/utils/WordList.scala:24-26), which is always true against an 11k-word
    lexicon — so the effective fallback is 0.0. We implement that effective
    semantics; opt-in fuzzy matching lives in operators.wordscore.
    """
    get_all = stemmed_lexicon_dict()

    def evaluate(w: str) -> float:
        if w in get_all:
            return get_all[w]
        dedup = "".join(dict.fromkeys(w))  # Scala String.distinct
        if dedup in get_all:
            return get_all[dedup]
        return 0.0

    from spark_sentiment_spark.functions.stemmer import stem

    s = stem(word)
    if s == word:
        return evaluate(word)
    we, se = evaluate(word), evaluate(s)
    return we if abs(we) > abs(se) else se
