"""Round-12 additions. Each query has an exact DuckDB oracle
(driver-routed); these tests pin what the fixture oracle can't see:
the composed Gopher curation pass on a corpus where all four stages
actually fire (the synthetic fixture is wholesale-rejected by the
published thresholds, so its dedup/decontamination stages are dead
there), with a REAL cross-engine oracle comparison on the constructed
corpus."""

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.oracle_utils import stage_documents


GOOD = ("the quick brown fox and that dog have fun with it " * 6).strip()


def test_curate_gopher_all_stages_fire_with_oracle(spark):
    """Every stage of the composed Gopher curation pass produces a
    verdict on this corpus — benchmark, kept, duplicate (same 4-token
    prefix, keep-best by length), contaminated (shares a benchmark
    3-gram), and two distinct Gopher sub-reasons — and the Spark plan
    matches the composed DuckDB oracle cross-engine."""
    from tests.oracle_utils import compare, duck_connection
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "bench", 35),
        (1, "bench one marker", "en", "bench", 16),
        (2, "bench two marker", "en", "bench", 16),
        (3, "bench three marker", "en", "bench", 18),
        (4, "bench four marker", "en", "bench", 17),
        # kept: passes Gopher, unique prefix cluster winner (longest)
        (5, "prefix one two three " + GOOD + " plus extra tail words",
         "en", "web", 10),
        # duplicate: same first-4-token prefix as doc 5, shorter
        (6, "prefix one two three " + GOOD, "en", "web", 10),
        # contaminated: passes Gopher, contains benchmark 3-gram
        (7, "now alpha beta gamma appears inside " + GOOD, "en", "web", 10),
        # Gopher sub-reasons surface as first-failing verdicts
        (8, "the of and", "en", "web", 10),                 # too_few_words
        (9, ("#### " * 60).strip() + " the of and have with",
         "en", "web", 10),                                  # symbol_ratio
    ]
    tmp = stage_documents(rows, SF_DIR)
    try:
        q = REGISTRY["curate_corpus_gopher"]
        out = {r["doc_id"]: r["reason"]
               for r in q.fn(spark, tmp).collect()}
        assert out == {0: "benchmark", 1: "benchmark", 2: "benchmark",
                       3: "benchmark", 4: "benchmark", 5: "kept",
                       6: "duplicate", 7: "contaminated",
                       8: "too_few_words", 9: "symbol_ratio"}, out
        ok, msg = compare(q.fn(spark, tmp), duck_connection(tmp), q.sql,
                          "curate_gopher@constructed")
        assert ok, msg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rfm_bucketed_collapses_cells_and_keeps_rf_axes(spark):
    """The pre-bucketed monetary axis: (a) r/f scores are byte-identical
    to the parent `events_rfm_cutpoints` (bucketing touches only the m
    axis), (b) users sharing a cell always share an m_score (the
    sub-cell boundaries the trade gives up), (c) m_score is monotone in
    the cell (descending axis: richer cell never scores lower), and
    (d) the fixture actually collapses cells (|cells| < |users|), so
    the trade is exercised rather than vacuous."""
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    parent = {r["user_id"]: r for r in
              REGISTRY["events_rfm_cutpoints"].fn(spark, SF_DIR).collect()}
    out = REGISTRY["events_rfm_cutpoints_bucketed"].fn(
        spark, SF_DIR).collect()
    assert len(out) == len(parent)
    by_cell = {}
    for r in out:
        p = parent[r["user_id"]]
        assert (r["r_score"], r["f_score"]) == (p["r_score"], p["f_score"])
        assert r["m_cell"] == r["m_e4"] // 1_000_000
        by_cell.setdefault(r["m_cell"], set()).add(r["m_score"])
    assert len(by_cell) < len(out), "fixture produced no cell collisions"
    assert all(len(s) == 1 for s in by_cell.values()), by_cell
    ordered = [next(iter(by_cell[c])) for c in sorted(by_cell, reverse=True)]
    assert ordered == sorted(ordered), ordered


def test_sample_dsir_matches_hashlib_replay(spark):
    """Bit-exact replay of the materialized resample in pure Python:
    take the query's own log_weights (already pinned against their
    oracle), add the md5-derived Gumbel with the identical float ops,
    rank by (round(key, 6) desc, doc_id) — the selected doc set and rn
    order must match exactly, the engine-independence claim behind the
    content-addressed draw."""
    import hashlib
    import math

    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    w = {r["doc_id"]: r["log_weight"] for r in
         REGISTRY["corpus_dsir_weights"].fn(spark, SF_DIR).collect()}
    keyed = []
    for doc_id, lw in w.items():
        u = (int(hashlib.md5(f"gmb:{doc_id}".encode()).hexdigest()[:12],
                 16) + 1) / 2.0 ** 48
        keyed.append((round(lw + (-math.log(-math.log(u))), 6), doc_id))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    want = [(d, k) for k, d in keyed[:100]]
    got = [(r["doc_id"], r["gumbel_key"]) for r in
           REGISTRY["sample_dsir"].fn(spark, SF_DIR)
           .orderBy("rn").collect()]
    assert got == want


def test_dsir_weights_score_featureless_docs_neutrally(spark):
    """Docs with fewer than 2 tokens have no bigram features — they must
    appear with the neutral score (n_grams = 0, log_weight = 0.0), not
    vanish (the resampler would silently drop them),
    and the constructed corpus runs the REAL cross-engine oracle."""
    from tests.oracle_utils import compare, duck_connection
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    rows = [
        (0, "the quick brown fox jumps over it", "en", "web", 33),
        (1, "one", "en", "web", 3),          # 1 token: featureless
        (2, "", "de", "web", 0),             # 0 tokens: featureless
        (3, "zwei wörter", "de", "web", 11),
        (4, None, "en", "web", 0),           # null text: excluded
    ]
    tmp = stage_documents(rows, SF_DIR)
    try:
        q = REGISTRY["corpus_dsir_weights"]
        out = {r["doc_id"]: (r["n_grams"], r["log_weight"])
               for r in q.fn(spark, tmp).collect()}
        assert set(out) == {0, 1, 2, 3}
        assert out[1] == (0, 0.0) and out[2] == (0, 0.0)
        assert out[0][0] > 0 and out[3][0] > 0
        ok, msg = compare(q.fn(spark, tmp), duck_connection(tmp), q.sql,
                          "dsir_featureless@constructed")
        assert ok, msg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ivf_probe_two_batches_equals_inline(spark):
    """The streaming leg of the vector index triad must (a) actually run
    as TWO micro-batches (one staged query file per trigger) and (b)
    produce exactly the inline `ann_ivf_topk` result — batch boundaries
    cannot matter because query routing is row-local given the broadcast
    centroids and each qid lives in exactly one batch."""
    import glob

    from spark_sentiment_spark.plans import registry
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    before = set(registry._STAGED_DIRS)
    streamed = [(r["qid"], r["rn"], r["vec_id"], r["label"], r["cosine"])
                for r in REGISTRY["streaming_ivf_probe"]
                .fn(spark, SF_DIR).collect()]
    hit_dirs = [d for d in registry._STAGED_DIRS
                if d not in before and "ivf_hits_" in d]
    assert hit_dirs, "hit sink not tracked"
    batches = glob.glob(hit_dirs[-1] + "/batch_id=*")
    assert len(batches) == 2, batches

    inline = [(r["qid"], r["rn"], r["vec_id"], r["label"], r["cosine"])
              for r in REGISTRY["ann_ivf_topk"].fn(spark, SF_DIR).collect()]
    assert streamed == inline
    assert streamed, "fixture produced no top-k rows"


def test_c4_rules_each_rule_fires_on_constructed_corpus(spark):
    """The fixture is single-line prose without terminal punctuation, so
    the line-retention and page rules never fire there — this corpus
    gives every C4 rule a violating document and a passing control, and
    pins verdict, reason precedence, and the measured counts."""
    from spark_sentiment_spark.plans.text_queries import _c4_rules

    sent = "The quick brown fox jumps over that lazy sleeping dog."
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


def test_c4_rules_oracle_parity_on_multiline_corpus(spark):
    """The fixture never exercises the line-retention expression paths
    cross-engine — stage a corpus tripping every rule (plus mixed
    whitespace, quotes, empty and null text) and run the REAL oracle
    comparison on it."""
    from tests.oracle_utils import compare, duck_connection
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    sent = "The quick brown fox jumps over that lazy sleeping dog."
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
    tmp = stage_documents(rows, SF_DIR)
    try:
        q = REGISTRY["quality_c4_rules"]
        ok, msg = compare(q.fn(spark, tmp), duck_connection(tmp), q.sql,
                          "c4@constructed")
        assert ok, msg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)



def test_curate_c4_all_stages_fire_with_oracle(spark):
    """Every stage of the composed C4 curation pass produces a verdict
    on this corpus — benchmark, kept, duplicate (same 4-token prefix,
    keep-best by length), contaminated (shares a benchmark 3-gram), and
    two distinct C4 sub-reasons — and the Spark plan matches the
    composed DuckDB oracle cross-engine."""
    from tests.oracle_utils import compare, duck_connection
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    sent = "The quick brown fox jumps over that lazy sleeping dog."
    goodc4 = "\n".join([sent] * 4)
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "bench", 35),
        (1, "bench one marker", "en", "bench", 16),
        (2, "bench two marker", "en", "bench", 16),
        (3, "bench three marker", "en", "bench", 18),
        (4, "bench four marker", "en", "bench", 17),
        # kept: passes C4, unique prefix cluster winner (longest)
        (5, "Prefix one two three starts this paragraph nicely today.\n"
            + goodc4 + "\nAnd an extra closing line rounds it out well.",
         "en", "web", 10),
        # duplicate: same first-4-token prefix as doc 5, shorter
        (6, "Prefix one two three follows the same path again now.\n"
            + goodc4, "en", "web", 10),
        # contaminated: passes C4, contains benchmark 3-gram
        (7, "Now alpha beta gamma appears in this line today.\n" + goodc4,
         "en", "web", 10),
        # C4 sub-reasons surface as first-failing verdicts
        (8, "no terminal punctuation at all here", "en", "web", 10),
        (9, goodc4 + "\nvar x = {a: 1}", "en", "web", 10),  # curly_brace
    ]
    tmp = stage_documents(rows, SF_DIR)
    try:
        q = REGISTRY["curate_corpus_c4"]
        out = {r["doc_id"]: r["reason"]
               for r in q.fn(spark, tmp).collect()}
        assert out == {0: "benchmark", 1: "benchmark", 2: "benchmark",
                       3: "benchmark", 4: "benchmark", 5: "kept",
                       6: "duplicate", 7: "contaminated",
                       8: "too_few_sentences", 9: "curly_brace"}, out
        ok, msg = compare(q.fn(spark, tmp), duck_connection(tmp), q.sql,
                          "curate_c4@constructed")
        assert ok, msg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
