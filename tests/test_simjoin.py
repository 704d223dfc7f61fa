"""Prefix-filtered exact similarity join (dedup_simjoin_prefix): oracle
parity is covered by test_oracle.py; these pin the two claims the oracle
can't see — losslessness at the exact threshold boundary on a constructed
corpus, and the candidate-set shrink that is the operator's entire point."""

from itertools import combinations

from pyspark.sql import functions as F

from spark_sentiment_spark.plans.dedup_queries import (
    _SIMJOIN_DEN, _SIMJOIN_NUM, _simjoin_candidates, _simjoin_grams)
from tests.conftest import SF_DIR


def _bigrams(text):
    t = text.lower().split(" ")
    if len(t) < 2:
        return {" ".join(t)}
    return {f"{a} {b}" for a, b in zip(t, t[1:])}


def test_simjoin_exact_at_threshold_boundary(spark, query, tmp_path):
    """A pair at exactly Jaccard 3/5 must be INCLUDED (>=), disjoint and
    sub-threshold pairs excluded, duplicates at 1.0 included — checked
    against an independent set-arithmetic reimplementation."""
    rows = [
        (1, "a b c d e"),    # grams {ab,bc,cd,de}
        (2, "a b c d f"),    # inter 3 / union 5 with d1 -> exactly 3/5
        (3, "p q r s t"),    # disjoint
        (4, "a b c d e"),    # duplicate of d1
        (5, "a b x1 x2 x3 x4"),  # shares one gram with d1 -> 1/8
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {(r["doc_a"], r["doc_b"]): (r["n_shared"], r["n_union"])
           for r in query("dedup_simjoin_prefix", str(tmp_path)).collect()}

    sets = {i: _bigrams(t) for i, t in rows}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if _SIMJOIN_DEN * i >= _SIMJOIN_NUM * u:
            want[(a, b)] = (i, u)
    assert (1, 2) in want and (1, 4) in want   # the fixture is non-vacuous
    assert got == want


def test_prefix_filter_shrinks_candidates(spark, query):
    """On the real corpus the prefix self-join must produce strictly
    fewer candidate pairs than the naive shared-gram self-join, while
    still containing every surviving pair (losslessness, checked against
    the full query output)."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where(F.col("text").isNotNull() & (F.trim("text") != "")))
    tok = _simjoin_grams(docs).persist()
    cand = _simjoin_candidates(tok).persist()
    try:
        naive = (tok.alias("a")
                 .join(tok.alias("b"),
                       (F.col("a.w") == F.col("b.w"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                 .select(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b"))
                 .distinct())
        n_cand, n_naive = cand.count(), naive.count()
        assert n_cand < n_naive, (n_cand, n_naive)

        out = query("dedup_simjoin_prefix").select("doc_a", "doc_b")
        missing = out.join(cand, ["doc_a", "doc_b"], "left_anti").count()
        assert missing == 0
    finally:
        tok.unpersist()
        cand.unpersist()


def test_containment_is_directional(spark, query, tmp_path):
    """A short doc quoted inside a long one must fire src=short -> dst=long
    (containment 1.0) but NOT the reverse (the long doc is mostly novel),
    and a doc overlapping below 3/4 fires in neither direction."""

    rows = [
        (1, "a b c d"),                         # grams {ab,bc,cd}: the quote
        (2, "a b c d x1 x2 x3 x4 x5 x6 x7"),    # contains all of d1's grams
        (3, "a b q r s t"),                     # shares 1/3 of d1 -> below t
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {(r["src"], r["dst"]): r["containment"]
           for r in query("dedup_containment_prefix", str(tmp_path)).collect()}
    assert got == {(1, 2): 1.0}
