"""Rolling-hash fingerprint: fold semantics pinned against a Python
reference; order sensitivity asserted."""

from tests.conftest import SF_DIR


def _py_rolling(spark, texts):
    """Pure-Python reference of the same fold — the md5-derived per-token
    hash is engine-independent (no Spark hash involved), matching the
    oracle-able formulation."""
    import hashlib

    B, p = 1_000_003, (1 << 31) - 1

    def h31(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % p

    out = []
    for text in texts:
        acc = 0
        for t in text.lower().split(" "):
            acc = (acc * B + h31(t)) % p
        out.append(acc)
    return out


def test_rolling_hash_matches_python_fold(spark, query):

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    texts = [r["text"] for r in docs.orderBy("doc_id").collect()]
    got = [r["rolling_hash"] for r in
           query("doc_rolling_hash").orderBy("doc_id")
           .limit(20).collect()]
    assert got == _py_rolling(spark, texts)


def test_rolling_hash_is_order_sensitive(spark, query):

    import os
    import tempfile

    d = tempfile.mkdtemp()
    df = spark.createDataFrame(
        [(0, "alpha beta gamma", "en", "s", 16),
         (1, "gamma beta alpha", "en", "s", 16)],
        "doc_id long, text string, lang string, source string, n_chars long")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = query("doc_rolling_hash", d).collect()
    hashes = {r["doc_id"]: r["rolling_hash"] for r in out}
    assert hashes[0] != hashes[1]   # same bag of words, different order


def test_char_ngram_stats_semantics(spark):
    """dedup_char_ngrams core on a hand-built corpus: an exact shared
    25-char span flags BOTH carriers (shared grams > 0), a unique doc
    stays at ratio 0, and a doc shorter than n drops out entirely."""
    from spark_sentiment_spark.plans.dedup_queries import char_ngram_stats

    span = "the license header repeated verbatim across files"
    rows = [
        (1, "alpha " + span + " omega"),
        (2, "totally different prefix " + span),
        (3, "unique content with no overlap whatsoever here at all"),
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in char_ngram_stats(df, n=20).collect()}
    assert set(got) == {1, 2, 3}          # doc 4 shorter than n
    assert got[1].n_shared > 0 and got[2].n_shared > 0
    # both docs precede the span with a space, so the shared region is
    # ' ' + span = 50 chars -> 31 shared 20-grams on each side
    assert got[1].n_shared == got[2].n_shared == (1 + len(span)) - 20 + 1
    assert got[3].n_shared == 0 and got[3].shared_ratio == 0.0
