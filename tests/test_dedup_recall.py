"""MinHash-LSH candidate quality pinned against the exact Jaccard oracle:
every true near-dup pair (exact 3-shingle Jaccard >= 0.9) must surface as
an LSH candidate (estimated >= 0.5), and the estimates must track truth."""

from tests.conftest import SF_DIR



def test_minhash_lsh_full_recall_of_true_neardups(spark, query):
    exact = query("dedup_jaccard_pairs").collect()
    cand = query("dedup_minhash_lsh").collect()
    assert exact, "fixture has no true near-dup pairs — test is vacuous"
    exact_pairs = {(r.doc_a, r.doc_b): r.jaccard for r in exact}
    est = {(r.doc_a, r.doc_b): r.est_jaccard for r in cand}
    missed = set(exact_pairs) - set(est)
    assert not missed, f"LSH missed true near-dup pairs: {sorted(missed)[:5]}"
    # 32-hash estimate of a >=0.9 Jaccard pair: binomial(32, j) / 32; a
    # 0.25 tolerance is ~4 sigma
    for pair, j in exact_pairs.items():
        assert abs(est[pair] - j) <= 0.25, (pair, j, est[pair])


def test_semantic_dedup_invariant_and_recall(spark, query):
    """(a) No two KEPT vectors sharing ANY probed cell are within tau of
    each other — the keep-policy's hard guarantee at multi-probe
    strength (probe assignments recomputed independently here from the
    content-addressed definition: seeds = k smallest md5(vec_id), rank
    by 6dp-rounded cosine, ties to the lower cell). (b) Cell scoping
    still catches most true near-dup pairs from the exact all-pairs
    oracle (cross-cell pairs are the accepted miss)."""
    import hashlib
    import itertools
    import math

    from spark_sentiment_spark.plans.pipeline_queries import (
        SEMDEDUP_K, SEMDEDUP_PROBE)

    rows = query("dedup_semantic").collect()
    exact = query("dedup_embedding_cosine").collect()
    emb = {r.vec_id: r.embedding
           for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .collect()}
    assert exact, "fixture has no true cosine near-dup pairs"

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def cos(a, b):
        ua, ub = unit(a), unit(b)
        return sum(x * y for x, y in zip(ua, ub))

    # independent replication of the content-addressed quantizer
    seeds = sorted(sorted(
        emb, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:SEMDEDUP_K])
    cents = [unit(emb[s]) for s in seeds]
    probes = {}
    rank1 = {}
    for vid, v in emb.items():
        u = unit(v)
        sims = [(round(sum(x * y for x, y in zip(u, c)), 6), ci)
                for ci, c in enumerate(cents)]
        ranked = sorted(sims, key=lambda t: (-t[0], t[1]))
        probes[vid] = {ci for _, ci in ranked[:SEMDEDUP_PROBE]}
        rank1[vid] = ranked[0][1]

    # (a) the reported cell must equal the replicated rank-1 cell, and
    # kept vectors sharing any probed cell must be tau-separated
    for r in rows:
        assert r.cluster == rank1[r.vec_id], (r.vec_id, r.cluster)
    kept = [r.vec_id for r in rows if r.kept]
    for i, j in itertools.combinations(sorted(kept), 2):
        if probes[i] & probes[j]:
            assert cos(emb[i], emb[j]) < 0.4, (i, j)

    dropped = {r.vec_id for r in rows if not r.kept}
    true_pairs = [(r.vec_a, r.vec_b) for r in exact]
    caught = sum(1 for a, b in true_pairs if a in dropped or b in dropped)
    recall = caught / len(true_pairs)
    assert recall >= 0.5, f"semantic-dedup pair recall {recall:.3f}"
