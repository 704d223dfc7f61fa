"""Randomized cross-engine differential for the generated BPE oracle SQL
(plans/pipeline_queries.py::_bpe_merges_sql/_bpe_token_counts_sql).

The unrolled-CTE oracle rests on two claims the sf fixtures exercise only
lightly:

* the delimiter-encoded ``replace()`` reproduces the trainer's GREEDY
  LEFT-TO-RIGHT merge scan (overlap cases: "a a a" under merge (a,a)
  must give [aa, a], never [a, aa]);
* applying merges sequentially in RANK ORDER equals the GPT-2
  lowest-rank-first encoder (`operators/bpe.py::_encode_word`) — true
  because any pair involving a merged symbol ranks after the merge that
  created it.

Hypothesis hammers both with tiny two-letter-alphabet corpora (maximally
tie- and overlap-prone) — pure Python + DuckDB, no Spark session needed.

The chain generator's ONE parameter is the unroll bound, so each
differential runs at two distinct merge counts (a single N cannot catch
an off-by-one-round in the generated chain).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from spark_sentiment_spark.operators.bpe import (_WS_RE, _encode_word,
                                                 _merge_loop)
from spark_sentiment_spark.plans.pipeline_queries import (
    _BPE_WS, _bpe_merges_sql, _bpe_token_counts_sql)

# words over {a, b}: short lengths make repeated/overlapping pairs and
# count ties the NORM rather than the exception
word = st.text(alphabet="ab", min_size=1, max_size=5)
corpus = st.lists(st.lists(word, min_size=1, max_size=8), min_size=1,
                  max_size=12)


def _docs_frame(texts: list[list[str]]) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": [" ".join(ws) for ws in texts],
    })


def _python_merges(texts: list[list[str]],
                   n_merges: int) -> list[tuple[str, str, int]]:
    """The reference trainer on the same tokenization the SQL uses:
    min_count=2 floor, then the driver merge loop."""
    freq: dict[str, int] = {}
    for ws in texts:
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
    freq = {w: c for w, c in freq.items() if c >= 2}
    return _merge_loop(freq, n_merges)


@pytest.mark.parametrize("n_merges,max_examples", [
    # the 40-example sweep is the deep fuzz — slow-marked so the fast
    # path keeps one 10-example differential per operator (plus the
    # catalog oracles for bpe_merges/bpe_token_counts)
    pytest.param(8, 40, marks=pytest.mark.slow),
    (25, 10),
])
def test_merges_sql_matches_python_trainer(n_merges, max_examples):
    @settings(max_examples=max_examples, deadline=None)
    @given(corpus)
    def check(texts):
        con = duckdb.connect()
        con.register("documents", _docs_frame(texts))
        got = con.execute(_bpe_merges_sql(n_merges)).fetchall()
        con.close()
        want = [(i + 1, a, b, a + b, c)
                for i, (a, b, c) in enumerate(_python_merges(texts,
                                                             n_merges))]
        assert got == want

    check()


@pytest.mark.parametrize("n_merges,max_examples", [
    # the 40-example sweep is the deep fuzz — slow-marked so the fast
    # path keeps one 10-example differential per operator (plus the
    # catalog oracles for bpe_merges/bpe_token_counts)
    pytest.param(8, 40, marks=pytest.mark.slow),
    (25, 10),
])
def test_token_counts_sql_matches_gpt2_encoder(n_merges, max_examples):
    @settings(max_examples=max_examples, deadline=None)
    @given(corpus)
    def check(texts):
        con = duckdb.connect()
        con.register("documents", _docs_frame(texts))
        got = dict(con.execute(_bpe_token_counts_sql(n_merges)).fetchall())
        con.close()
        ranks = {(a, b): i
                 for i, (a, b, _) in enumerate(_python_merges(texts,
                                                              n_merges))}
        want = {i: sum(len(_encode_word(w, ranks)) for w in ws)
                for i, ws in enumerate(texts)}
        assert got == want

    check()


def test_whitespace_class_aligns_python_and_duckdb():
    """Java/RE2/Python `\\s` disagree on \\x0B and Unicode
    spaces, so plan+oracle+UDF now share one explicit class. Pin that the
    Python UDF regex and the DuckDB oracle regex tokenize a nasty mixed-
    whitespace text identically: \\x0B IS a separator on both sides,
    NBSP/thin-space are NOT (they stay inside tokens), and empties from
    leading/trailing runs are dropped."""
    nasty = " \ta\x0bb c\xa0d e  f\r\n"
    py = [w for w in _WS_RE.split(nasty.lower()) if w]
    con = duckdb.connect()
    duck = con.execute(
        "SELECT list_filter(string_split_regex(lower(?), ?),"
        " t -> length(t) > 0)", [nasty, _BPE_WS]).fetchone()[0]
    con.close()
    assert py == duck == ["a", "b", "c\xa0d e", "f"]
