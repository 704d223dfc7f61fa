"""Quality-rule gates and the persisted BM25 index
(plans/text_queries.py over operators/bm25.py).

Each query has an exact DuckDB oracle (tests/test_oracle.py), but the
fixture is single-line prose with no '#', '...', bullets or terminal
punctuation, so the line-shape rules of the Gopher and C4 gates never
fire on it. These tests give every rule a violating document on a
constructed corpus, pin verdict and reason precedence, and run the real
cross-engine oracle comparison on corpora that reach those expression
paths. The BM25 test pins the persisted index's probe against the
inline ranking."""

from tests.conftest import SF_DIR
from tests.oracle_utils import assert_oracle_match, staged_documents


def test_gopher_rules_each_rule_fires_on_constructed_corpus(spark):
    """The fixture is single-line prose, so the line-shape rules never
    fire there — this constructed corpus gives every rule exactly one
    violating document (and one passing control) and pins verdict,
    reason precedence, and the measured feature that tripped."""
    from spark_sentiment_spark.plans.text_queries import _gopher_rules

    good_words = ("the quick brown fox and that dog have fun with it "
                  * 6).strip()                      # 66 words, all rules pass
    rows = [
        (0, good_words),
        (1, "the of and that"),                     # too_few_words
        (2, " ".join(["ab"] * 60) + " the of"),     # word_length (mean < 3)
        (3, " ".join(["####word"] * 60) + " the of and"),   # symbol_ratio
        (4, "\n".join(["- " + good_words] * 10)),   # bullet_lines (10/10)
        (5, "\n".join([good_words + " ..."] * 10)), # ellipsis_lines
        (6, " ".join(["123456"] * 60) + " the of and"),     # non_alpha_words
        (7, " ".join(["zz%d" % i for i in range(60)])),     # stopwords
        # symbol_ratio via the ELLIPSIS ratio alone (hash ratio 0): the
        # published rule thresholds each symbol separately, so 60 mid-
        # word ellipses / 63 words must drop even with zero '#' chars.
        (8, " ".join(["word...ly"] * 30 + ["wo…rd"] * 30) + " the of and"),
    ]
    # doc 5: 10 ellipsis-ended lines out of 10; its per-symbol ellipsis
    # ratio is 10 ellipses / 660 words ≈ 0.015 < 0.1 so ellipsis_lines
    # is the first failing rule. doc 3: 240 '#' / 63 words >> 0.1.
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in _gopher_rules(docs).collect()}
    assert out[0]["keep"] and out[0]["reason"] == "ok"
    assert not out[1]["keep"] and out[1]["reason"] == "too_few_words"
    assert out[2]["reason"] == "word_length" and out[2]["mean_word_len"] < 3
    assert out[3]["reason"] == "symbol_ratio" \
        and out[3]["hash_word_ratio"] > 0.1 \
        and out[3]["ellipsis_word_ratio"] <= 0.1
    assert out[4]["reason"] == "bullet_lines" and out[4]["bullet_ratio"] == 1.0
    assert out[5]["reason"] == "ellipsis_lines" \
        and out[5]["ellipsis_ratio"] == 1.0 \
        and out[5]["ellipsis_word_ratio"] <= 0.1
    assert out[6]["reason"] == "non_alpha_words" \
        and out[6]["alpha_word_ratio"] < 0.8
    assert out[7]["reason"] == "stopwords" and out[7]["n_stopwords"] == 0
    assert out[8]["reason"] == "symbol_ratio" \
        and out[8]["hash_word_ratio"] == 0.0 \
        and out[8]["ellipsis_word_ratio"] > 0.1
    assert all(not out[i]["keep"] for i in range(1, 9))


def test_gopher_rules_fixture_reasons_discriminate(query):
    """The synthetic fixture (10–99-word docs, ≤ 1 English stopword) is
    honestly rejected WHOLESALE by the published thresholds — that is
    the correct verdict, and keep=True is exercised by the constructed
    corpus above. What the fixture must show: the reason ladder
    discriminates (≥ 2 distinct first-failing rules, in precedence
    order) and every verdict agrees with its reason."""
    out = query("quality_gopher_rules").collect()
    reasons = {r["reason"] for r in out}
    assert len(reasons) >= 2, reasons
    for r in out:
        assert r["keep"] == (r["reason"] == "ok")
        if r["reason"] == "too_few_words":
            assert r["n_words"] < 50
        if r["reason"] == "stopwords":
            assert r["n_words"] >= 50 and r["n_stopwords"] < 2


def test_gopher_rules_oracle_parity_on_symbol_heavy_corpus(query):
    """The fixture contains no '#', '...', bullets, or multi-line text,
    so the driver's oracle rows never exercise those expression paths
    cross-engine. Stage a corpus that trips every rule (plus unicode
    ellipsis and mixed whitespace) and run the REAL oracle comparison —
    Spark plan vs DuckDB SQL — on it."""
    good = ("the quick brown fox and that dog have fun with it " * 6).strip()
    rows = [
        (0, good, "en", "web", len(good)),
        (1, "# ### " + good + " ...", "en", "web", 10),
        (2, "\n".join(["- bullet " + good] * 4 + ["plain " + good]),
         "de", "web", 10),
        (3, "\n".join([good + " …"] * 3 + [good + " ..."] * 2), "fr",
         "web", 10),
        (4, "  tabs\tand   runs  " + good + "  ", "en", "news", 10),
        (5, " ".join(["123456"] * 60) + " the of and", "xx", "news", 10),
        (6, None, "en", "web", 0),
    ]
    with staged_documents(rows, SF_DIR) as tmp:
        assert_oracle_match(query("quality_gopher_rules", tmp),
                            "quality_gopher_rules", tmp)


C4_SENTENCE = "The quick brown fox jumps over that lazy sleeping dog."


def test_c4_rules_each_rule_fires_on_constructed_corpus(spark):
    """The fixture is single-line prose without terminal punctuation, so
    the line-retention and page rules never fire there — this corpus
    gives every C4 rule a violating document and a passing control, and
    pins verdict, reason precedence, and the measured counts."""
    from spark_sentiment_spark.plans.text_queries import _c4_rules

    sent = C4_SENTENCE
    good = "\n".join([sent] * 4)                       # 4 kept lines/sents
    rows = [
        (0, good),                                     # ok
        (1, good + "\nwe use Lorem Ipsum filler"),     # lorem_ipsum
        (2, good + "\nvar x = {a: 1}"),                # curly_brace
        (3, sent + "\n" + sent),                       # too_few_sentences
        # line rules: no terminal punct / <5 words / 'javascript' lines
        # are all DROPPED, starving the page below 3 sentences
        (4, "\n".join(["no terminal punctuation here"] * 6)),
        (5, "\n".join(["Too short."] * 6)),
        (6, "\n".join([sent.replace("dog", "javascript dog")] * 6)),
        # a line ending in a quotation mark IS terminal
        (7, "\n".join([f'He said "{sent}"'] * 3)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in _c4_rules(docs).collect()}
    assert out[0]["keep"] and out[0]["reason"] == "ok" \
        and out[0]["n_kept_lines"] == 4 and out[0]["n_sentences"] == 4
    assert out[1]["reason"] == "lorem_ipsum"
    assert out[2]["reason"] == "curly_brace"
    assert out[3]["reason"] == "too_few_sentences" \
        and out[3]["n_sentences"] == 2
    assert out[4]["reason"] == "too_few_sentences" \
        and out[4]["n_kept_lines"] == 0
    assert out[5]["reason"] == "too_few_sentences" \
        and out[5]["n_kept_lines"] == 0          # 2 words < 5
    assert out[6]["reason"] == "too_few_sentences" \
        and out[6]["n_kept_lines"] == 0          # javascript lines dropped
    assert out[7]["keep"] and out[7]["n_kept_lines"] == 3
    assert all(not out[i]["keep"] for i in range(1, 7))


def test_c4_rules_oracle_parity_on_multiline_corpus(query):
    """The fixture never exercises the line-retention expression paths
    cross-engine — stage a corpus tripping every rule (plus mixed
    whitespace, quotes, empty and null text) and run the REAL oracle
    comparison on it."""
    sent = C4_SENTENCE
    good = "\n".join([sent] * 4)
    rows = [
        (0, good, "en", "web", len(good)),
        (1, good + "\nLorem ipsum dolor sit amet.", "en", "web", 10),
        (2, "if (x) { return; }\n" + good, "de", "web", 10),
        (3, "  spaced\tout   words here now.  \n" + sent, "fr", "web", 10),
        (4, 'She shouted "Stop right there you rascal!"\n' + good, "en",
         "news", 10),
        (5, "", "en", "web", 0),
        (6, None, "en", "web", 0),
    ]
    with staged_documents(rows, SF_DIR) as tmp:
        assert_oracle_match(query("quality_c4_rules", tmp),
                            "quality_c4_rules", tmp)


def test_bm25_persisted_probe_matches_inline_and_prunes(spark, query):
    """A probe of the persisted inverted index (`bm25_stage_index` +
    `bm25_probe`, what `streaming_bm25_probe` runs per batch) must (a)
    return EXACTLY the inline `search_bm25` ranking (scoring chain
    shared via `bm25_score_topk`, so this pins the index staging, not a
    re-derivation), (b) assemble the probe from the artifacts with ZERO
    documents-table scans, and (c) push the term IN-filter into the
    postings scan — the row-group seek the sorted layout exists for."""
    from spark_sentiment_spark.operators.bm25 import (BM25_SQL, BM25_TERMS,
                                                      bm25_probe,
                                                      bm25_query_frame,
                                                      bm25_stage_index)
    from tests.oracle_utils import compare, duck_connection
    from tests.plan_walk import nodes, pushed_filters, scans_of

    def probe_df():
        postings, dl = bm25_stage_index(spark, SF_DIR)
        return bm25_probe(postings, dl, bm25_query_frame(spark), BM25_TERMS)

    df = probe_df()
    ns = nodes(df)
    assert not scans_of(ns, "documents.parquet"), \
        "probe re-scanned the corpus"
    postings_scans = scans_of(ns, "/postings")
    assert postings_scans and all(
        any(f.getClass().getSimpleName() == "In" and f.attribute() == "w"
            for f in pushed_filters(s)) for s in postings_scans), \
        "term IN-filter not pushed to the postings scan"

    probe = [tuple(r) for r in df.collect()]
    inline = [tuple(r) for r in query("search_bm25").collect()]
    assert probe == inline and probe

    ok, msg = compare(probe_df(), duck_connection(SF_DIR), BM25_SQL,
                      "bm25_probe")
    assert ok, msg
