"""Semantic decontamination and the persisted PQ index
(plans/similarity_queries.py). Each query has an exact DuckDB oracle
(tests/test_oracle.py); these tests pin what an oracle row can't see:
semantic decontamination's consistency with the multiprobe pair set it
shares its machinery with, its subset-of-truth and recall floor, and the
PQ index's persisted artifacts. Recall of the ANN family is pinned in
test_similarity_recall.py, the IVF+PQ index lifecycle in
test_ivfpq_index.py."""

import glob

from tests.conftest import SF_DIR


def test_decontaminate_semantic_is_multiprobe_bipartite_subset(query):
    """Triad consistency: the semantic decontamination output must be
    EXACTLY the bipartite (one eval side) slice of
    `dedup_embedding_multiprobe`'s pair set, re-oriented train→eval —
    both queries share `multiprobe_candidates` and the verify threshold,
    so any drift means the shared machinery forked."""
    got = {(r["train_vec"], r["eval_vec"]): r["cosine"]
           for r in query("decontaminate_semantic").collect()}
    want = {}
    for r in query("dedup_embedding_multiprobe").collect():
        a, b = r["vec_a"], r["vec_b"]
        if (a % 11 == 0) != (b % 11 == 0):
            want[(b, a) if a % 11 == 0 else (a, b)] = r["cosine"]
    assert got == want
    assert got, "fixture produced no semantic contamination pairs"


def test_decontaminate_semantic_no_false_positives_and_recall(query):
    """Against the exact bipartite truth (dedup_embedding_cosine's
    all-pairs output restricted to one-eval-side pairs): every reported
    pair must be true (exact-cosine verify ⇒ subset), and recall at the
    fixture's 0.4 tail threshold must clear the LSH family's documented
    hardest-regime floor (measured 0.357; real decontamination runs at
    ≥ 0.8 where the same config exceeds 0.99 —
    tests/test_similarity_recall.py pins that curve for the family)."""
    got = {(r["train_vec"], r["eval_vec"])
           for r in query("decontaminate_semantic").collect()}
    truth = set()
    for r in query("dedup_embedding_cosine").collect():
        a, b = r["vec_a"], r["vec_b"]
        if (a % 11 == 0) != (b % 11 == 0):
            truth.add((b, a) if a % 11 == 0 else (a, b))
    assert got <= truth
    assert len(got) / len(truth) >= 0.3, (len(got), len(truth))


def test_pq_index_artifacts_are_staged(spark):
    """The build phase must leave BOTH artifacts on disk — the code
    table (vec_id + M small-int codes, the 32x compression) and the
    M x K codebook (so a probe replays with no corpus access) — and
    releasing the caches must reclaim them."""
    from spark_sentiment_spark.operators.vectors import (PQ_K, PQ_M,
                                                         pq_stage_index,
                                                         unit_vector_frame)
    from spark_sentiment_spark.plans import registry

    vecs = unit_vector_frame(registry.load(spark, SF_DIR, "embeddings"), "e")
    base, _ = pq_stage_index(spark, vecs)
    codes = spark.read.parquet(base + "/codes")
    assert [f.name for f in codes.schema] == ["vec_id", "codes"]
    n = codes.count()
    assert n == spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    lens = codes.selectExpr("min(size(codes)) a", "max(size(codes)) b") \
        .first()
    assert lens["a"] == lens["b"] == PQ_M
    cb = spark.read.parquet(base + "/codebook")
    assert cb.count() == PQ_M * PQ_K
    assert glob.glob(base + "/codes/part-*")
    registry.release_caches()
    # track_staging_dir cleanup must reclaim the index (no staging leaks)
    assert not glob.glob(base + "/codes/part-*")
