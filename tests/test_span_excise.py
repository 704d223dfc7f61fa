"""Pin dedup_span_excise semantics on hand-built corpora (the sf fixtures
exercise the operator, but only a constructed corpus makes the excision
boundaries themselves inspectable)."""

import pandas as pd
import pytest

from spark_sentiment_spark.plans.dedup_queries import (SPAN_EXCISE_SQL,
                                                       span_excise)

SHARED = "0123456789ABCDEFGHIJKLMNO"  # 25 chars: 6 shared 20-gram starts
DOC_A = "aaaaaaaaaaaaaaaaaaaaaaaaa" + SHARED + "zzzzzzzzzzzzzzzzzzzzzzzzz"
DOC_B = "bbbbbbbbbbbbbbbbbbbbbbbbb" + SHARED + "yyyyyyyyyyyyyyyyyyyyyyyyy"


def _run(spark, rows):
    docs = spark.createDataFrame(pd.DataFrame(rows))
    return {r["doc_id"]: r.asDict() for r in span_excise(docs).collect()}


def test_shared_span_excised_exactly(spark):
    """Two docs sharing a 25-char interior span, unique elsewhere: grams
    fully inside the span are shared (starts s..s+5), grams straddling
    the boundary differ per doc — so exactly the 25 shared characters
    are removed from each, as ONE merged island."""
    out = _run(spark, [{"doc_id": 1, "text": DOC_A},
                       {"doc_id": 2, "text": DOC_B}])
    # uniform prefix/suffix runs (aaaa…) self-shingle into repeated grams
    # WITHIN one doc but are not cross-doc shared; they survive intact
    assert out[1]["clean_text"] == "a" * 25 + "z" * 25
    assert out[2]["clean_text"] == "b" * 25 + "y" * 25
    assert out[1]["n_removed"] == 25 and out[1]["n_spans"] == 1
    assert out[2]["n_removed"] == 25 and out[2]["n_spans"] == 1


def test_identical_twins_fully_excised(spark):
    """Exact duplicates: every gram is shared, the island covers the whole
    text, clean_text is empty on both."""
    t = "The quick brown fox jumps over the lazy dog."
    out = _run(spark, [{"doc_id": 1, "text": t}, {"doc_id": 2, "text": t}])
    for d in (1, 2):
        assert out[d]["clean_text"] == ""
        assert out[d]["n_removed"] == len(t)
        assert out[d]["n_spans"] == 1


def test_short_and_unique_docs_untouched(spark):
    out = _run(spark, [
        {"doc_id": 1, "text": "short"},                  # < n: no grams
        {"doc_id": 2, "text": "entirely unique prose with no twin at all"},
        {"doc_id": 3, "text": DOC_A},                    # its twin is absent
    ])
    for d in (1, 2, 3):
        assert out[d]["n_removed"] == 0
        assert out[d]["n_spans"] == 0
    assert out[3]["clean_text"] == DOC_A


def test_two_disjoint_shared_spans_are_two_islands(spark):
    """Two separated shared spans in one doc → two merged islands, each
    excised; the unique text between them survives."""
    mid = "M" * 30
    s2 = "PQRSTUVWXYZpqrstuvwxyz123"  # second 25-char shared span
    host = "h" * 25 + SHARED + mid + s2 + "k" * 25
    out = _run(spark, [
        {"doc_id": 1, "text": host},
        {"doc_id": 2, "text": "c" * 25 + SHARED + "d" * 25},
        {"doc_id": 3, "text": "e" * 25 + s2 + "f" * 25},
    ])
    assert out[1]["clean_text"] == "h" * 25 + mid + "k" * 25
    assert out[1]["n_spans"] == 2
    assert out[1]["n_removed"] == 50


def test_matches_duckdb_oracle_on_handbuilt_corpus(spark):
    """The committed oracle SQL replays the plan bit-for-bit on the same
    adversarial corpus (boundary spans, twins, shorts)."""
    import duckdb

    from tests.oracle_utils import compare

    rows = [
        {"doc_id": 1, "text": DOC_A},
        {"doc_id": 2, "text": DOC_B},
        {"doc_id": 3, "text": "tiny"},
        {"doc_id": 4, "text": DOC_A},  # exact twin of 1
        {"doc_id": 5, "text": "wholly original text that shares nothing"},
    ]
    pdf = pd.DataFrame(rows)
    con = duckdb.connect()
    con.register("documents", pdf)
    ok, msg = compare(span_excise(spark.createDataFrame(pdf)), con,
                      SPAN_EXCISE_SQL, "dedup_span_excise")
    con.close()
    assert ok, msg


def test_sentence_dedup_keeps_global_first_occurrence(spark, query):
    """dedup_sentence_exact on a hand-built corpus: the boilerplate
    sentence survives only in the earliest (doc_id, position); documents
    rebuild from survivors in order; an all-duplicate doc rebuilds to
    the empty string."""
    import duckdb

    from spark_sentiment_spark.plans.dedup_queries import SENTENCE_DEDUP_SQL
    from tests.oracle_utils import compare

    boiler = "We use cookies"
    rows = [
        {"doc_id": 1, "text": f"{boiler}. Unique alpha. Unique beta"},
        {"doc_id": 2, "text": f"Unique gamma. {boiler}. Unique delta"},
        {"doc_id": 3, "text": f"{boiler}"},          # nothing survives
        {"doc_id": 4, "text": "Unique alpha tail"},  # no '. ' at all
    ]
    pdf = pd.DataFrame(rows)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.mode("overwrite") \
            .parquet(f"{d}/documents.parquet")
        out = {r.doc_id: r.asDict()
               for r in query("dedup_sentence_exact", d)
               .collect()}
    assert out[1]["kept_text"] == f"{boiler}. Unique alpha. Unique beta"
    assert out[2]["kept_text"] == "Unique gamma. Unique delta"
    assert out[2]["n_sentences"] == 3 and out[2]["n_kept"] == 2
    assert out[3]["kept_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["kept_text"] == "Unique alpha tail"

    con = duckdb.connect()
    con.register("documents", pdf)
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.mode("overwrite") \
            .parquet(f"{d}/documents.parquet")
        ok, msg = compare(query("dedup_sentence_exact", d), con,
                          SENTENCE_DEDUP_SQL, "dedup_sentence_exact")
    con.close()
    assert ok, msg
