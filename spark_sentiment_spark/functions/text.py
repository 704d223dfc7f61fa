"""Text normalization as native Column expressions.

The reference cleans text with a row-at-a-time Scala UDF
(``Helper.cleanString``, SRC/utils/Helper.scala:77-84). Here the same chain is
pure ``regexp_replace`` Column expressions — JVM-side, whole-stage-codegen'd,
and transparent to Catalyst (predicate pushdown/pruning still apply). The rule
list is a single source of truth from which we also generate the equivalent
DuckDB SQL for the correctness oracle.
"""

from __future__ import annotations

import json
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered (pattern, replacement) pairs applied after lower(); mirrors
# SRC/utils/Helper.scala:78-83 exactly (quotes, control chars, retweet
# markers, @mentions, hash signs, URLs, whitespace squeeze).
CLEANING_STEPS: tuple[tuple[str, str], ...] = (
    ('"', ""),
    ("'", ""),
    ("\\n", ""),
    ("\\r", ""),
    ("\\t", ""),
    ("rt\\s+", ""),
    ("@\\w+", ""),
    ("#", ""),
    ("http\\S+", ""),
    (" +", " "),
    ("\\s+", " "),
)


def clean_text_col(col: Column | str) -> Column:
    """lower + the reference's full regexp cleaning chain, as one Column."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    for pat, repl in CLEANING_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return c


def clean_text_sql(expr: str) -> str:
    """Equivalent DuckDB SQL expression (RE2 'g' flag) for the oracle."""
    out = f"lower({expr})"
    for pat, repl in CLEANING_STEPS:
        # DuckDB string literals pass backslashes through verbatim — only
        # quotes need escaping.
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


# Whitespace tokens of a trimmed ``text`` column: the corpus statistics'
# token unit, as DuckDB SQL and as the identical Spark Column.
WS_TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"


def ws_tokens() -> Column:
    return F.split(F.trim(F.col("text")), r"\s+")


def has_text() -> Column:
    """``text`` is present and not blank: the SQL twins' ``text IS NOT
    NULL AND trim(text) <> ''``."""
    return F.col("text").isNotNull() & (F.trim("text") != "")


def token_bigrams(tokens: str) -> Column:
    """Adjacent pairs of the token array column ``tokens`` as an array of
    struct<w1, w2> (empty for fewer than two tokens; explode for rows)."""
    return F.expr(
        f"zip_with(slice({tokens}, 1, size({tokens})-1),"
        f" slice({tokens}, 2, size({tokens})-1),"
        " (a, b) -> struct(a AS w1, b AS w2))")


def emoji_to_word_col(col: Column | str) -> Column:
    """Per-token emoji→word substitution (SRC/utils/Helper.scala:91-93,
    intended semantics — the reference emits the literal ``Some(word)``, a bug
    documented in quirks.md).

    Implemented natively: split on single spaces, map each token through
    ``emoji_dict()`` as a literal ``map<string,string>``, reassemble. The
    map travels to the JVM as one JSON string literal parsed by
    ``from_json``: one py4j call instead of one per key and value, and no
    SQL string literal, so keys holding ``'`` or ``\\`` (``:'(``, ``:\\``)
    mean the same under every parser conf
    (``spark.sql.parser.escapedStringLiterals`` included). Catalyst folds
    the parse into a map literal, so rows never run ``from_json``.
    """
    from spark_sentiment_spark.functions.lexicon import emoji_dict

    m = F.from_json(F.lit(json.dumps(emoji_dict())), "map<string,string>")
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(
        F.transform(F.split(c, " ", -1), lambda t: F.coalesce(m[t], t)), " "
    )


def stem_tokens_col(col: Column | str) -> Column:
    """Porter-stem each space-separated token via an Arrow pandas UDF
    (SRC/utils/Helper.scala:99-101). Python is unavoidable here — the stemmer
    has no Column-expression equivalent — so it runs Arrow-batched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _stem(series: pd.Series) -> pd.Series:
        from spark_sentiment_spark.functions.stemmer import stem_tokens

        return series.map(lambda t: stem_tokens(t) if t is not None else None)

    return _stem(F.col(col) if isinstance(col, str) else col)


@lru_cache(maxsize=1)
def _default_stopwords() -> tuple[str, ...]:
    """Spark ML's default English stop words, read from the JVM once per
    process (the JVM returns them one py4j call per word)."""
    from pyspark.ml.feature import StopWordsRemover

    return tuple(StopWordsRemover.loadDefaultStopWords("english"))


def remove_stopwords_col(col: Column | str) -> Column:
    """Drop (case-insensitively) the default English stop words from a
    space-tokenized string, keeping the order and duplicates of the other
    tokens: ``filter`` with ``array_contains`` on each lowered token
    (StopWordsRemover with caseSensitive=false, SRC/utils/Helper.scala:58-62).
    The stop-word array travels as one JSON literal, for the reasons
    ``emoji_to_word_col`` gives.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ", -1)
    sw = F.from_json(F.lit(json.dumps(_default_stopwords())), "array<string>")
    return F.array_join(
        F.filter(toks, lambda t: ~F.array_contains(sw, F.lower(t))), " "
    )


def clean_source(
    df: DataFrame,
    input_col: str,
    output_col: str,
    stem: bool = False,
    tweet_tokenize: bool = True,
) -> DataFrame:
    """Full cleaning pipeline, mirroring ``Helper.cleanSource``
    (SRC/utils/Helper.scala:46-65): null-filter → [stem] → tweet-tokenize →
    emoji→word → clean chain → whitespace tokenize+lower → stopword removal →
    re-join.

    Deviation (documented in quirks.md): the reference stems *before*
    tokenizing (SRC/utils/Helper.scala:34), which stems URLs/@mentions that
    are later deleted; we keep that order for parity when ``stem=True``.
    """
    out = df.where(F.col(input_col).isNotNull())
    c: Column = F.col(input_col)
    if stem:
        c = stem_tokens_col(c)
    if tweet_tokenize:
        from spark_sentiment_spark.functions.tokenizer import tokenize_to_string_col

        c = tokenize_to_string_col(c)
    c = emoji_to_word_col(c)
    c = clean_text_col(c)
    # ml.Tokenizer lowercases + splits on \s+; ours is already single-spaced
    # and lowercased by the clean chain, so stopword removal applies directly.
    c = remove_stopwords_col(c)
    return out.withColumn(output_col, c)
