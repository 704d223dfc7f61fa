"""Sentence-level NLP sentiment (M14/M15) — capability clone of the
reference's CoreNLP paths (SRC/CoreNLPSentimentAnalyzer.scala:44-75 "our-nlp"
and the databricks-nlp column function, SRC/Sentiment.scala:155).

The reference wraps Stanford CoreNLP's RNN sentiment annotator: per
sentence a class in 0..4 (very negative .. very positive); the document
score is the class of the LONGEST sentence
(CoreNLPSentimentAnalyzer.computeSentiment:62-66). Stanford models are
JVM-only, so the scorer here is *pluggable*: any
``Callable[[str], list[tuple[str, int]]]`` (sentence, class) pairs —
the default is a deterministic lexicon-based sentence scorer with the same
contract and output range. Swap in a real model (e.g. a python NLP lib) by
passing ``sentence_scorer=``; the Spark-side machinery (Arrow-batched
pandas UDF, per-worker lazy init, longest-sentence reduction) is identical.

Scale: one narrow pandas UDF — no shuffle, embarrassingly parallel; the
scorer initializes once per Python worker (module-level lazy singleton,
mirroring the reference's per-executor ``@transient lazy val``,
CoreNLPSentimentAnalyzer.scala:22-34).
"""

from __future__ import annotations

import re
from typing import Callable

import pandas as pd  # module-level: pandas-UDF type hints resolve from here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SENTENCE_SPLIT = re.compile(r"(?<=[.!?])\s+")

#: class labels, CoreNLP convention: 0=very neg, 2=neutral, 4=very pos
VERY_NEGATIVE, NEGATIVE, NEUTRAL, POSITIVE, VERY_POSITIVE = range(5)


def split_sentences(text: str) -> list[str]:
    """ssplit stand-in: split on sentence-final punctuation."""
    parts = [s for s in _SENTENCE_SPLIT.split(text.strip()) if s]
    return parts or [text]


def _lexicon_sentence_scorer():
    """Default scorer: mean lexicon polarity of the sentence tokens mapped
    onto the 5-class scale. Deterministic, dependency-free; same contract
    as the CoreNLP RNN (text → [(sentence, class 0..4)])."""
    from spark_sentiment_spark.functions.lexicon import raw_lexicon_dict

    lex = raw_lexicon_dict()

    def score_sentence(sentence: str) -> int:
        toks = re.findall(r"[a-z']+", sentence.lower())
        vals = [lex[t] for t in toks if t in lex]
        if not vals:
            return NEUTRAL
        mean = sum(vals) / len(vals)
        if mean <= -0.6:
            return VERY_NEGATIVE
        if mean < 0:
            return NEGATIVE
        if mean < 0.6:
            return POSITIVE if mean > 0 else NEUTRAL
        return VERY_POSITIVE

    def extract(text: str) -> list[tuple[str, int]]:
        return [(s, score_sentence(s)) for s in split_sentences(text)]

    return extract


# per-worker lazy scorers, keyed by factory (the reference's @transient
# wrapper pattern). Keyed — not a singleton — so lexicon- and model-backed
# UDFs in the same session don't serve each other's scorer.
_WORKER_SCORERS: dict = {}


def _worker_scorer(factory):
    if factory not in _WORKER_SCORERS:
        _WORKER_SCORERS[factory] = factory()
    return _WORKER_SCORERS[factory]


def compute_sentiment(text: str, extract=None) -> int:
    """Document class = class of the longest sentence
    (CoreNLPSentimentAnalyzer.computeSentiment:62-66)."""
    extract = extract or _lexicon_sentence_scorer()
    pairs = extract(text)
    return max(pairs, key=lambda p: len(p[0]))[1]


def sentiment_udf(sentence_scorer_factory: Callable | None = None) -> Column:
    """U4 as an Arrow pandas UDF factory: ``string → int 0..4``."""
    from pyspark.sql.functions import pandas_udf

    factory = sentence_scorer_factory or _lexicon_sentence_scorer

    @pandas_udf("int")
    def _score(texts: pd.Series) -> pd.Series:
        extract = _worker_scorer(factory)  # lazy init, once per worker
        return texts.map(
            lambda t: compute_sentiment(t, extract) if t else NEUTRAL)

    return _score


def score_nlp(df: DataFrame, text_col: str, output_col: str = "computed",
              sentence_scorer_factory: Callable | None = None) -> DataFrame:
    """Entry-point-A "our-nlp" dispatch (Sentiment.scala:149-152): null
    filter + sentiment UDF column."""
    udf_col = sentiment_udf(sentence_scorer_factory)
    return (df.where(F.col(text_col).isNotNull())
            .withColumn(output_col, udf_col(F.col(text_col))))
