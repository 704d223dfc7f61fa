"""Approximation quality of the ANN family pinned as tested numbers:
LSH pair recall vs brute force, and IVF per-query recall vs exact KNN."""

import numpy as np
import pyarrow.parquet as pq
import pytest

from spark_sentiment_spark.plans.registry import REGISTRY
from tests.conftest import SF_DIR



def _exact_top_pairs(k: int = 200) -> set:
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    ids = np.array(t["vec_id"].to_pylist())
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    iu = np.triu_indices(len(V), 1)
    order = np.argsort(-S[iu])[:k]
    return {
        (min(ids[iu[0][j]], ids[iu[1][j]]), max(ids[iu[0][j]], ids[iu[1][j]]))
        for j in order
    }


def test_ann_lsh_recall_floor(spark, query):
    """recall@200 of the multi-table LSH vs brute-force top-200 pairs.
    The corpus' top pairs sit at cosine ~0.4 — LSH's hardest regime (the
    12x6 config catches such a pair w.p. ~0.54; at near-dup similarities
    >=0.8 the same config exceeds 0.99). The floor pins that the banding /
    OR-amplification machinery works; it is not a near-dup recall claim."""
    got = query("ann_lsh_topk").collect()
    lsh_pairs = {(min(r.vec_a, r.vec_b), max(r.vec_a, r.vec_b)) for r in got}
    exact = _exact_top_pairs(200)
    recall = len(exact & lsh_pairs) / len(exact)
    assert recall >= 0.45, f"LSH recall@200 degraded to {recall:.3f}"


def test_ann_ivf_recall_floor(spark, query):
    """Per-query recall@10 of the IVF (probe 2 of 16 cells) path vs the
    exact KNN query, averaged over the 5 query vectors."""
    exact = query("knn_cosine_topk").collect()
    approx = query("ann_ivf_topk").collect()
    exact_by_q: dict = {}
    for r in exact:
        exact_by_q.setdefault(r.qid, set()).add(r.vec_id)
    approx_by_q: dict = {}
    for r in approx:
        approx_by_q.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [
        len(exact_by_q[q] & approx_by_q.get(q, set())) / len(exact_by_q[q])
        for q in exact_by_q
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"IVF recall@10 degraded to {mean_recall:.3f}"


def test_knn_classify_ivf_agreement_floor(spark, query):
    """The IVF-backed classifier must agree with the exact full-scan
    classifier on a pinned fraction of the 50 queries — the vote layer
    is identical, so disagreement measures only candidate-recall loss in
    the coarse cells. Fixture ceiling: the synthetic labels are
    content-free w.r.t. embedding geometry (exact kNN accuracy is 0.10 =
    chance over 10 labels), so top-10 votes are near-uniform and tiny
    candidate differences flip the argmax — measured agreement is 0.48
    at sf0.01 and plateaus ~0.52 even at probe 8, so the floor pins the
    machinery, not a semantic-recall claim. Deterministic
    (content-addressed seed centroids), so the number cannot drift."""
    exact = query("knn_classify").collect()
    ivf = query("knn_classify_ivf").collect()
    exact_pred = {r.qid: r.pred_label for r in exact}
    ivf_pred = {r.qid: r.pred_label for r in ivf}
    assert set(ivf_pred) == set(exact_pred)   # every query still classified
    agree = sum(ivf_pred[q] == exact_pred[q] for q in exact_pred)
    assert agree / len(exact_pred) >= 0.4, (
        f"IVF classifier agreement degraded to {agree}/{len(exact_pred)}")


def test_quantized_knn_recall_and_error(spark, query):
    """int8 quantization quality pinned: reconstruction cosine error tiny,
    and brute-force top-10 neighbors computed on dequantized vectors agree
    with float top-10 at recall >= 0.9 (averaged over 5 queries)."""
    rows = query("embedding_quantize").collect()
    assert all(r.cos_err < 5e-4 for r in rows)

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    ids = np.array(t["vec_id"].to_pylist())
    mx = np.abs(V).max(axis=1, keepdims=True)
    D = np.round(V * 127.0 / mx) * mx / 127.0

    def topk(M, k=10):
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Mn.T
        np.fill_diagonal(S, -np.inf)
        out = {}
        for qi in np.where(ids < 5)[0]:
            out[ids[qi]] = set(ids[np.argsort(-S[qi])[:k]])
        return out

    exact, quant = topk(V), topk(D)
    recalls = [len(exact[q] & quant[q]) / 10 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9


def test_pq_recall_floor_vs_brute(spark, query):
    """PQ ADC + exact re-rank must recall >=0.7 of the brute-force top-10
    (measured 0.84 at sf0.01 with the default rerank depth; floor leaves
    margin for the codebook sample draw)."""
    from collections import defaultdict

    brute = query("knn_cosine_topk").collect()
    pq = query("ann_pq_topk").collect()
    b, t = defaultdict(set), defaultdict(set)
    for r in brute:
        b[r["qid"]].add(r["vec_id"])
    for r in pq:
        t[r["qid"]].add(r["vec_id"])
    recalls = [len(t[q] & b[q]) / len(b[q]) for q in b]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def _brute_pairs_at_tau(tau: float = 0.4) -> set:
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    ids = np.array(t["vec_id"].to_pylist())
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    iu = np.triu_indices(len(V), 1)
    hit = np.where(S[iu] >= tau)[0]
    return {
        (min(ids[iu[0][j]], ids[iu[1][j]]), max(ids[iu[0][j]], ids[iu[1][j]]))
        for j in hit
    }


def test_multiprobe_recall_beats_home_only(spark, query):
    """The POINT of multi-probe: flipping the lowest-|margin| bits must
    recover pairs the 4 home buckets alone miss, and the full query's
    recall vs the exact >=0.4 pair set clears a pinned floor. Both
    numbers are deterministic (md5 planes, rounded-margin flip order),
    so they cannot drift."""
    from spark_sentiment_spark.plans.registry import load
    from spark_sentiment_spark.plans.similarity_queries import (
        multiprobe_candidates)

    exact = _brute_pairs_at_tau(0.4)
    got = query("dedup_embedding_multiprobe").collect()
    mp_pairs = {(r.vec_a, r.vec_b) for r in got}
    assert mp_pairs <= exact          # re-rank admits only true pairs
    recall = len(mp_pairs) / len(exact)

    emb = load(spark, SF_DIR, "embeddings")
    home_cand = {(r.vec_a, r.vec_b)
                 for r in multiprobe_candidates(emb, n_flips=0).collect()}
    home_recall = len(exact & home_cand) / len(exact)
    assert recall > home_recall, (
        f"multi-probe {recall:.3f} <= home-only {home_recall:.3f}")
    assert recall >= 0.3, f"multiprobe recall degraded to {recall:.3f}"


@pytest.mark.usefixtures("run")
def test_multiprobe_candidate_bound_scales_linearly(spark):
    """Candidate-pair growth under ×4 corpus replication with per-replica
    sign-flipped dimensions: within a replica all pairwise dots are
    preserved (s²=1), across replicas they are scrambled — so true pair
    structure grows ×4 and candidate pairs must too. At FIXED planes the growth IS quadratic (bucket count constant →
    occupancy ×4 → in-bucket pairs ×16; asserted below as the
    counter-example), which is exactly why the query applies the
    adaptive-planes rule: +log2(k) planes per ×k data holds the bound
    ~linear."""
    from spark_sentiment_spark.plans.similarity_queries import (
        multiprobe_candidates)

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    ids = np.array(t["vec_id"].to_pylist(), dtype=np.int64)
    k = 4
    rng_signs = [
        np.where((np.frombuffer(
            __import__("hashlib").md5(f"rep:{r}".encode()).digest() * 4,
            dtype=np.uint8)[:V.shape[1]] & 1).astype(bool), -1.0, 1.0)
        for r in range(k)
    ]

    def make_df(reps):
        rows = []
        for r in range(reps):
            for i in range(len(V)):
                rows.append((int(ids[i] * reps + r),
                             (V[i] * rng_signs[r]).tolist()))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    n1 = multiprobe_candidates(make_df(1)).count()
    n4_fixed = multiprobe_candidates(make_df(k)).count()
    # adaptive rule: ×4 data → +2 planes → bucket count ×4
    n4 = multiprobe_candidates(make_df(k), n_planes=8).count()
    assert n4_fixed > 8.0 * n1, "fixed-P counter-example vanished"
    assert n4 <= 5.0 * n1, (
        f"candidates grew {n4 / max(n1, 1):.1f}x for {k}x data "
        f"({n1} -> {n4}) under adaptive planes — super-linear occupancy")


def test_knn_vote_tie_breaks_to_smaller_label(spark, query, tmp_path):
    """Tie-order pin: the vote argmax orders by
    (n_votes DESC, label) — `label` is unique per (qid, label) vote row
    by construction, but when two labels TIE on votes the trailing key
    is the only separator, and the fixture corpus never produces an
    exact tie. Construct one: query 0's 10 nearest neighbors split 5/5
    between labels 1 and 2 (distinct cosines, so the rank window has no
    ties of its own) — the winner must be the smaller label, and the
    whole result must hash-match the DuckDB oracle on the same corpus."""
    import duckdb

    from tests.oracle_utils import compare

    rows = [(0, [1.0, 0.0], 1)] + [
        (i, [1.0, 0.25 * i], 2 - (i % 2)) for i in range(1, 11)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r.qid: (r.pred_label, r.n_votes)
           for r in query("knn_classify", str(tmp_path))
           .collect()}
    assert out[0] == (1, 5)  # 5/5 tie -> smaller label wins
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')")
    ok, msg = compare(query("knn_classify", str(tmp_path)),
                      con, REGISTRY["knn_classify"].sql, "knn_classify")
    assert ok, msg


@pytest.mark.usefixtures("run")
@pytest.mark.slow
def test_multiprobe_recall_at_real_neardup_thresholds(spark):
    """The LSH family's headline claim — 'at the cosine >= 0.8-0.9
    similarities real near-dup/decontamination workloads target, recall
    exceeds 0.99' — pinned rather than asserted. Plant one hash-derived
    perturbed twin per fixture vector at two controlled similarity
    levels (median cosine 0.895 and 0.840) and require the multiprobe
    candidate set to recover the planted pairs: measured 499/500 and
    496/500. Deterministic end to end (md5 perturbation directions, md5
    planes)."""
    import hashlib
    import math

    from spark_sentiment_spark.plans.similarity_queries import (
        multiprobe_candidates)

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    for eps, floor in ((0.5, 0.99), (0.65, 0.98)):
        rows = []
        for i, v in enumerate(Vn):
            d = np.frombuffer(
                hashlib.md5(f"pert:{eps}:{i}".encode()).digest() * 16,
                dtype=np.uint8)[:len(v)].astype(np.float64)
            d = d / 128.0 - 1.0
            w = v + eps * d / np.linalg.norm(d)
            rows.append((2 * i, v.tolist()))
            rows.append((2 * i + 1, (w / np.linalg.norm(w)).tolist()))
        df = spark.createDataFrame(rows, "vec_id long,"
                                         " embedding array<double>")
        npl = max(6, math.ceil(math.log2(len(rows) / 16)))
        cand = {(r.vec_a, r.vec_b)
                for r in multiprobe_candidates(df, n_planes=npl).collect()}
        planted = {(2 * i, 2 * i + 1) for i in range(len(V))}
        recall = len(planted & cand) / len(planted)
        assert recall >= floor, (eps, recall)


def test_ann_ivfpq_recall_floor(spark, query):
    """Per-query recall@10 of the COMPOSED IVF+PQ persisted index vs the
    exact KNN query. Two approximation layers stack: the coarse probe
    (3 of 16 cells) bounds recall at the IVF layer's 0.56, and the
    ADC top-50 cut inside the probed cells (active by construction —
    probed-cell candidates ~185 > rerank 50 on this fixture) trims it to
    a DETERMINISTIC 0.42 (content-addressed seeds: the number cannot
    drift). The floor pins both layers' machinery, not a semantic-recall
    claim."""
    exact = query("knn_cosine_topk").collect()
    approx = query("ann_ivfpq_persisted_probe").collect()
    ivf = query("ann_ivf_topk").collect()
    exact_by_q: dict = {}
    for r in exact:
        exact_by_q.setdefault(r.qid, set()).add(r.vec_id)
    approx_by_q: dict = {}
    for r in approx:
        approx_by_q.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [
        len(exact_by_q[q] & approx_by_q.get(q, set())) / len(exact_by_q[q])
        for q in exact_by_q
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.35, f"IVFPQ recall@10 degraded to {mean_recall:.3f}"
    # the ADC cut must actually bite — were rerank >= the probed-cell
    # candidate count, the PQ layer would be a no-op and the "composed"
    # query silently degenerate to pure IVF
    ivf_ids = sorted((r.qid, r.vec_id) for r in ivf)
    assert sorted((r.qid, r.vec_id) for r in approx) != ivf_ids


def test_ann_ivfpq_probe_knob_monotone_and_degenerates_to_flat_pq(spark, query):
    """The composed index's two knobs behave like the textbook says:
    with rerank deep enough to absorb the candidates (200), recall@10
    rises monotonically with probe width (measured 0.56 → 0.76 → 0.86
    at 3/6/16 probes on this fixture — deterministic, content-addressed
    seeds); and at FULL probe width the composition degenerates to
    exactly the flat PQ scan (`ann_pq_topk`'s rows, verbatim) — every
    cell is visited, the multi-assignment dedup collapses, and the ADC
    scores are identical by construction. (At rerank 50 the curve is
    deliberately NOT monotone — more probes add ADC-noise candidates
    that displace true neighbors within the fixed cut: 0.44/0.42/0.50/
    0.46/0.50/0.38 at 2/3/4/6/8/16 probes, which is why the probe-width
    pin holds rerank at 200.)"""
    from pyspark.sql import functions as F

    from spark_sentiment_spark.plans.registry import load
    from spark_sentiment_spark.operators.vectors import (
        PQ_K, as_double, ivfpq_probe, ivfpq_stage_index, norm)

    exact_by_q: dict = {}
    for r in query("knn_cosine_topk").collect():
        exact_by_q.setdefault(r.qid, set()).add(r.vec_id)
    flat = [tuple(r) for r in
            query("ann_pq_topk").collect()]

    emb = load(spark, SF_DIR, "embeddings")
    e = as_double("embedding")
    unit = F.transform(e, lambda x: x / norm(e))
    vecs = emb.select("vec_id", unit.alias("e"))
    base, n_codes = ivfpq_stage_index(spark, vecs)

    def recall(rows):
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r.qid, set()).add(r.vec_id)
        return sum(len(exact_by_q[q] & by_q.get(q, set()))
                   / len(exact_by_q[q]) for q in exact_by_q) / len(exact_by_q)

    got = {p: ivfpq_probe(spark, vecs, base, n_codes, 200, n_probe=p)
           .collect() for p in (3, 6, PQ_K)}
    assert recall(got[3]) <= recall(got[6]) <= recall(got[PQ_K])
    assert recall(got[PQ_K]) >= 0.8
    assert [tuple(r) for r in got[PQ_K]] == flat  # full width == flat PQ
