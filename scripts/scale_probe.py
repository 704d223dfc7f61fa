#!/usr/bin/env python
"""Empirical scaling probe: replicate the sf0.1 inputs ×K (K = 1, 2, 4, 8)
with distinct keys, rerun headline operators, and report wall time + rows/s.

The point is to measure the *slope* of each operator as data grows with
fixed parallelism — the local[32] stand-in for "add 10× data to a fixed
cluster". Linear (or better) slope + flat rows/s means the plan has no
super-linear term waiting at 100 TB; a blow-up here means a quadratic or a
single-partition bottleneck. Writes SCALING.md.

Usage: python scripts/scale_probe.py  (≈4 min; uses .scaletmp/, removed after)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE_SF = "/root/testdata/sf0.1"
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scaletmp")
FACTORS = [1, 2, 4, 8]

#: query → (tables it reads, key columns to re-key per replica). Re-keying
#: keeps ids distinct across replicas so dedup/groupBy cardinality scales
#: with the data instead of collapsing onto the originals.
PROBES = {
    "q1_pricing_summary": {"lineitem": ["l_orderkey"]},
    "wordscore_sentiment": {"documents": ["doc_id"]},
    "dedup_minhash_lsh": {"documents": ["doc_id"]},
    "pack_sequences": {"documents": ["doc_id"]},
    "events_sessionize": {"events": ["user_id"]},
    "dedup_exact": {"documents": ["doc_id"]},
    "quality_perplexity": {"documents": ["doc_id"]},
    "hybrid_search_rrf": {"documents": ["doc_id"],
                          "embeddings": ["vec_id"]},
    # round-4 additions
    "corpus_token_entropy": {"documents": ["doc_id"]},
    "token_pmi_bigrams": {"documents": ["doc_id"]},
    "preference_pairs": {"documents": ["doc_id"]},
    "contrastive_pairs": {"embeddings": ["vec_id"]},
    "events_session_sequences": {"events": ["user_id"]},
    "drift_psi": {"documents": ["doc_id"]},
    "source_overlap": {"documents": ["doc_id"]},
    "shard_balance": {"documents": ["doc_id"]},
    "mixture_apply": {"documents": ["doc_id"]},
    # round-5 additions
    "dedup_semantic": {"embeddings": ["vec_id"]},
    "pii_redaction": {"documents": ["doc_id"]},
    "dedup_char_ngrams": {"documents": ["doc_id"]},
    "packing_efficiency": {"documents": ["doc_id"]},
    "ngram_novelty": {"documents": ["doc_id"]},
    "dedup_keep_best": {"documents": ["doc_id"]},
    "curate_corpus": {"documents": ["doc_id"]},
    "token_pagerank": {"documents": ["doc_id"]},
    "ann_ivf_topk": {"embeddings": ["vec_id"]},
    "ann_pq_topk": {"embeddings": ["vec_id"]},
    "quality_bigram_backoff": {"documents": ["doc_id"]},
    # round-5 sketch/layout family
    "agg_hll_sketch": {"lineitem": ["l_orderkey"]},
    "token_cms_topk": {"documents": ["doc_id"]},
    "zorder_layout": {"lineitem": ["l_orderkey"]},
    "join_skew_salted": {"lineitem": ["l_orderkey"], "part": None},
    # round-5 late additions. dedup_simjoin_prefix and
    # dedup_containment_prefix are deliberately NOT probed: replication
    # copies identical texts, so their PAIR OUTPUT grows quadratically in
    # K by construction (k copies of a dup group -> k^2 pairs) — a
    # replication artifact, not an operator slope; their scale posture is
    # the lossless prefix pruning documented in their docstrings.
    "quantile_histogram_sketch": {"documents": ["doc_id"]},
    "skew_profile": {"lineitem": ["l_orderkey"], "orders": ["o_orderkey"]},
    "vocab_growth_curve": {"documents": ["doc_id"]},
    "langid_char_ngram": {"documents": ["doc_id"]},
    "events_rollup_incremental": {"events": ["event_id"]},
    "multimodal_phash_dedup": {"documents": ["doc_id"]},
    # round-7 additions. dedup_tfidf_cosine and dedup_embedding_multiprobe
    # are NOT probed here for the same reason as the simjoin pair:
    # replication copies identical texts/vectors, so their PAIR OUTPUT
    # grows quadratically by construction (k copies -> k^2 true pairs) — a
    # replication artifact. The multiprobe CANDIDATE bound is probed
    # honestly (sign-flip-decorrelated replicas) in
    # tests/test_similarity_recall.py; tfidf's bound is the df cap.
    "dedup_span_excise": {"documents": ["doc_id"]},
    "dedup_sentence_exact": {"documents": ["doc_id"]},
    "search_bm25": {"documents": ["doc_id"]},
    "knn_classify": {"embeddings": ["vec_id"]},
    "embedding_outliers": {"embeddings": ["vec_id"]},
    "events_scd2_history": {"events": ["user_id"]},
    "events_peak_concurrency": {"events": ["user_id"]},
    "agg_mad_by_group": {"lineitem": ["l_orderkey"]},
    "token_zipf_fit": {"documents": ["doc_id"]},
    "events_cumulative_users": {"events": ["user_id"]},
    "events_type_affinity": {"events": ["user_id"]},
    "events_sliding_users_hll": {"events": ["user_id"]},
    "events_temporal_join": {"events": ["user_id"]},
    # round-8 additions. dedup_incremental_minhash and
    # dedup_cross_source_pairs are NOT probed: both emit the MinHash pair
    # set, whose output grows quadratically under identical-text
    # replication (k copies -> k^2 true pairs) — the same replication
    # artifact documented for the simjoin/tfidf/multiprobe family; their
    # scale posture is the banded-LSH candidate bound.
    "zorder_probe": {"lineitem": ["l_orderkey"]},
    "knn_classify_ivf": {"embeddings": ["vec_id"]},
    "embedding_kmeans_iter": {"embeddings": ["vec_id"]},
    "events_rfm_scores": {"events": ["user_id"]},
    "events_gap_percentiles": {"events": ["user_id"]},
    "events_user_lifecycle": {"events": ["user_id"]},
    "token_hapax_rate": {"documents": ["doc_id"]},
    "graph_triangle_count": {"documents": ["doc_id"]},
    "langid_kappa": {"documents": ["doc_id"]},
    "agg_hll_merge_shards": {"events": ["event_id"]},
    "pareto_revenue_share": {"orders": ["o_orderkey"], "customer": None,
                             "nation": None},
    # re-keying both fact sides with the same ×K formula preserves
    # referential integrity, so join cardinality scales with the data
    "join_bucketed": {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"]},
    "io_schema_evolution": {"documents": ["doc_id"]},
    # part is replicated WITHOUT re-keying brand, so block sizes grow
    # with the data — the honest stress for blocked candidate generation
    "link_parts_fuzzy": {"part": ["p_partkey"]},
    "token_burstiness": {"documents": ["doc_id"]},
    # round-9 additions. dedup_minhash_bucketed_probe is NOT probed here:
    # it emits the new-vs-old near-dup PAIR set, which grows ×k² under
    # identical-text replication (the documented artifact class) — it is
    # probed honestly with DISJOINT texts in deep_probe.py at ×32.
    # streaming_minhash_probe is its streaming twin (same signature
    # stage, same bound); like the rest of the streaming family it runs
    # a bounded micro-batch harness that measures trigger plumbing, not
    # an operator slope, so the batch twin's disjoint probe carries the
    # family's scale claim. events_scd2_merge_delta additionally gets
    # the fixed-delta history-growth probe (scripts/merge_probe.py) that
    # isolates merge cost from the inline history rebuild.
    # NOTE the harness replicates each TABLE once per factor with the
    # FIRST spec's keys — events is re-keyed on user_id (set by
    # events_sessionize above), which suits all four: per-user windows
    # partition by the re-keyed id, the seasonal grid and the partition
    # prune count rows/users per cell, never event_id.
    "events_funnel_windowed": {"events": ["user_id"]},
    "events_seasonal_anomaly": {"events": ["user_id"]},
    "events_stickiness": {"events": ["user_id"]},
    "events_scd2_merge_delta": {"events": ["user_id"]},
    "graph_degree_assortativity": {"documents": ["doc_id"]},
    # write-inclusive like join_bucketed: the day-partitioned staging
    # write is the dominant term and the honest cost of the layout
    "io_partitioned_prune": {"events": ["user_id"]},
    # brands keep their cardinality, so per-brand basket counts grow
    # with the data while the pair grid stays |brands|² — dims-fixed
    "orders_basket_lift": {"lineitem": ["l_orderkey"], "part": None},
    # round-10 additions. streaming_scd2_merge is NOT probed (streaming
    # trigger harness; its batch twin events_scd2_merge_delta is probed
    # here and scripts/merge_probe.py isolates the fixed-delta merge
    # cost the pair shares). dedup_winnowing_pairs is NOT probed
    # (pair-emitting — identical-text replication grows its output x k²
    # by construction, the documented artifact class; doc_winnowing
    # carries the family's selection slope and the df cap bounds the
    # pair join).
    "events_rfm_distributed": {"events": ["user_id"]},
    "io_compact_small_files": {"events": ["user_id"]},
    "io_orc_roundtrip": {"documents": ["doc_id"]},
    "doc_winnowing": {"documents": ["doc_id"]},
    # round-11 additions. The stickiness swap pair is the headline: the
    # exact range-join form (above) scales with 28 x user-days while the
    # HLL form's window merge scales with 28 x |days| x 256 — the two
    # slopes side by side ARE the certification.
    # dedup_winnowing_incremental is NOT probed (pair-emitting —
    # identical-text replication grows its output x k² by construction,
    # the documented artifact class shared with dedup_winnowing_pairs;
    # doc_winnowing carries the family's selection slope).
    "events_stickiness_hll": {"events": ["user_id"]},
    # third RFM form: no rank over users — slope should track the
    # per-user hash agg, flatter than the distributed form's 3 range
    # shuffles (the m-axis freq table grows with users; documented)
    "events_rfm_cutpoints": {"events": ["user_id"]},
    # round-11 late additions. decontaminate_semantic is NOT probed
    # (pair-emitting — identical-vector replication grows its output
    # x k², the documented artifact class shared with
    # dedup_embedding_multiprobe, whose candidate bound is probed
    # honestly with sign-flip-decorrelated replicas in
    # tests/test_similarity_recall.py).
    # sample_weighted emits a CONSTANT 100 rows at every K — its honest
    # slope is the scan + per-partition heap (TakeOrderedAndProject).
    "sample_weighted": {"documents": ["doc_id"]},
    "corpus_dsir_weights": {"documents": ["doc_id"]},
    "quality_gopher_rules": {"documents": ["doc_id"]},
    # round-12 additions. ann_ivf_bucketed_probe emits a CONSTANT 50
    # rows at every K; its work = cell-index write (linear in n) + a
    # probe join bounded by query probes x cell occupancy (linear at
    # fixed IVF_K) — the slope measures the amortized write+probe cost;
    # at 100 TB the index write happens once, so the per-batch price is
    # the probe alone.
    "ann_ivf_bucketed_probe": {"embeddings": ["vec_id"]},
    # same shape as curate_corpus (probed above) with the published gate
    # swapped in — the gate is still one codegen projection, so the two
    # slopes should match
    "curate_corpus_gopher": {"documents": ["doc_id"]},
    # the bucketed-m cutpoint form: slope should track the per-user hash
    # agg like its parent, with the m-axis freq table now capped at
    # |cells| instead of growing with users
    "events_rfm_cutpoints_bucketed": {"events": ["user_id"]},
    # constant 100-row output like sample_weighted: the honest slope is
    # the two linear scoring passes + per-partition Gumbel-top-k heap
    "sample_dsir": {"documents": ["doc_id"]},
    # the C4 gate: one codegen projection like the Gopher gate — the
    # slope should be scan-bound and match quality_gopher_rules
    "quality_c4_rules": {"documents": ["doc_id"]},
    # third curation twin; same shape as its two siblings above
    "curate_corpus_c4": {"documents": ["doc_id"]},
    # streaming_ivf_probe is NOT probed (streaming trigger harness
    # measures micro-batch plumbing, not an operator slope — the family
    # policy); its batch twin ann_ivf_bucketed_probe above carries the
    # vector index family's scale claim.
    # round-13 additions. Constant 50-row output like
    # ann_ivf_bucketed_probe; work = the Arrow encode + code-parquet
    # write (linear in n, paid once at 100 TB) + the per-batch integer
    # ADC scan over the stored codes (linear in n at 1/32nd the bytes)
    # + a bounded re-rank — the slope measures the amortized
    # encode+probe cost.
    "ann_pq_persisted_probe": {"embeddings": ["vec_id"]},
    # streaming_pq_probe is NOT probed (streaming family policy, like
    # streaming_ivf_probe above); ann_pq_persisted_probe carries the
    # quantized index family's scale claim.
    # the staged curation pass: two artifact-build scans (write-inclusive)
    # + an artifact-only assembly — slope should sit at or below the
    # inline curate_corpus's since every stage is the same work minus
    # the re-derivation
    "curate_corpus_staged": {"documents": ["doc_id"]},
    # the persisted inverted index, write-inclusive: tokenize + two hash
    # aggs + the sorted postings write dominate; the probe itself reads
    # only term-matching row groups. streaming_bm25_probe is NOT probed
    # (streaming family policy); this batch form carries the claim.
    "search_bm25_persisted_probe": {"documents": ["doc_id"]},
    # round-14 addition. Constant 50-row output; work = the one-pass
    # cell-assign + Arrow encode + partitioned code write (linear in n,
    # paid once at 100 TB) + a probe that reads only the visited cells'
    # partitions (expected probe/K of the codes) — the write-inclusive
    # slope is encode-bound; the probe-only row isolates the recurring
    # pruned-scan cost.
    "ann_ivfpq_persisted_probe": {"embeddings": ["vec_id"]},
    # the composed pipeline tail: curation (its own audited slopes) + a
    # constant-150-row mixture/pack/shuffle over the survivors — the
    # marginal should track curate_corpus's (the selection stages are
    # bounded: broadcast quota, 150-row windows)
    "prepare_training_set": {"documents": ["doc_id"]},
    # the span table: same running sum as pack_sequences + a sequence()
    # explode emitting ~tokens/256 extra rows — slope should track the
    # parent's scan-bound shape
    "pack_sequences_spans": {"documents": ["doc_id"]},
    # constant 600-row output; work = the same per-source md5 rank
    # window mixture_apply pays + a broadcast slot join
    "mixture_upsample": {"documents": ["doc_id"]},
    # streaming_ivfpq_probe is NOT probed (streaming family policy);
    # ann_ivfpq_persisted_probe above carries the composed index's claim.
    # round-15 addition: the maintenance pass, write-inclusive — the
    # 4-batch fragmented build (same one-pass encode, 4 cell-clustered
    # appends) + the compact rewrite (one linear pass over the
    # 32x-compressed codes) + the probe; slope should track the
    # write-inclusive persisted probe's encode-bound shape, with the
    # compact pass adding a code-table-linear (i.e. small) increment.
    "ann_ivfpq_compacted_probe": {"embeddings": ["vec_id"]},
    # round-15 addition: the delete leg — one-shot build + a probe whose
    # only extra node is the broadcast LeftAnti delete filter; slope
    # should match the write-inclusive persisted probe's (the ~14%
    # delete set shrinks the candidate pool, it never adds work).
    "ann_ivfpq_tombstone_probe": {"embeddings": ["vec_id"]},
    # round-16 addition: the refresh leg — stale build + a one-column
    # decision scan over the compressed codes + (always triggered on the
    # shipped corpora) a survivor rebuild + probe; write-inclusive slope
    # should track ~2x the persisted probe's encode-bound shape (two
    # builds over 1x + 0.857x of the corpus), the decision scan itself
    # a negligible column-pruned increment.
    "ann_ivfpq_refresh_probe": {"embeddings": ["vec_id"]},
}


#: The staged-index queries' write-inclusive rows above price build+probe
#: together, which overstates the recurring cost those queries exist to
#: minimize. `--probe-only` stages each index ONCE per K (untimed), then
#: times ONLY the recurring probe plan against the existing artifacts —
#: the amortized claim, measured. Rows land as `<query>.probe_only`.
def _probe_only_builders(spark, sf_dir):
    """Pre-stage every staged index at this K and return zero-arg probe
    builders (each returns the recurring per-batch DataFrame). Staging
    dirs stay alive until the caller's release_caches()."""
    from spark_sentiment_spark.operators import bm25, vectors
    from spark_sentiment_spark.plans import pipeline_queries as pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = emb.select("vec_id", vectors.unit_vector("embedding").alias("e"))
    pq_base, pq_n = vectors.pq_stage_index(spark, vecs)
    ivfpq_base, ivfpq_n = vectors.ivfpq_stage_index(spark, vecs)
    postings, dl = bm25.bm25_stage_index(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull())
    v, g = pq._curate_stage(spark, docs)
    return {
        "ann_pq_persisted_probe.probe_only":
            ("embeddings",
             lambda: vectors.pq_probe(spark, vecs, pq_base, pq_n,
                                      vectors.PQ_RERANK, 10)),
        "ann_ivfpq_persisted_probe.probe_only":
            ("embeddings",
             lambda: vectors.ivfpq_probe(spark, vecs, ivfpq_base, ivfpq_n,
                                         vectors.IVFPQ_RERANK, 10)),
        "search_bm25_persisted_probe.probe_only":
            ("documents",
             lambda: bm25.bm25_probe(postings, dl,
                                     bm25.bm25_query_frame(spark),
                                     bm25.BM25_TERMS)),
        "curate_corpus_staged.probe_only":
            ("documents", lambda: pq._curate_assemble(v, g)),
    }


def replicate(spark, table: str, keys, k: int, out_dir: str):
    """keys=None marks a fixed dimension table: copied as-is at every K
    (the fact-grows-dim-fixed shape a real cluster sees)."""
    df = spark.read.parquet(f"{BASE_SF}/{table}.parquet")
    if k > 1 and keys is not None:
        reps = spark.range(k).withColumnRenamed("id", "__rep")
        df = df.crossJoin(F.broadcast(reps))
        for key in keys:
            df = df.withColumn(key, F.col(key) * k + F.col("__rep"))
        df = df.drop("__rep")
    # Repartition before the write (round 8): replication preserves the
    # base table's few input partitions, so the replicated parquet would
    # otherwise land as a handful of huge files and every probe's SCAN
    # stage would run at effective parallelism ~3 with one straggler — a
    # harness artifact, not an operator slope (it surfaced as
    # agg_hll_sketch's super-linear ×8→×32 marginal in round 7).
    df = df.repartition(32)
    df.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
    return df.count()


def _table_row(name: str, by_k: dict) -> str:
    """One main-table markdown row; by_k keys may be int or str (the
    Raw dict round-trips through JSON, which stringifies them)."""
    get = lambda k: by_k.get(k, by_k.get(str(k)))  # noqa: E731
    cells = [f"{get(k)['sec']}s" for k in FACTORS]
    ratio = round(get(8)["sec"] / get(1)["sec"], 1)
    thr = f"{get(1)['krows_s']} → {get(8)['krows_s']}"
    return f"| {name} | " + " | ".join(cells) + f" | {ratio}× | {thr} |"


def _merge_rows(results: dict) -> None:
    """--only mode writer: splice the probed queries' rows into the
    existing SCALING.md main table and Raw dict, leaving every other
    row (and the chain / ×32 / stage / merge sections) untouched."""
    path = os.path.join(os.path.dirname(TMP), "SCALING.md")
    text = open(path).read()

    raw_start = text.index("Raw: `") + len("Raw: `")
    raw_end = text.index("`", raw_start)
    merged = json.loads(text[raw_start:raw_end])
    merged.update(results)
    text = text[:raw_start] + json.dumps(merged) + text[raw_end:]

    hdr = "| query | ×1 | ×2 | ×4 | ×8 | ×8/×1 time ratio | krows/s ×1→×8 |"
    body_start = text.index("\n", text.index("|---|", text.index(hdr))) + 1
    body_end = text.index("\n\n", body_start) + 1
    rows = "".join(_table_row(n, by_k) + "\n" for n, by_k in merged.items())
    with open(path, "w") as f:
        f.write(text[:body_start] + rows + text[body_end:])
    print(f"merged {sorted(results)} into SCALING.md")


def main() -> None:
    from spark_sentiment_spark import get_spark
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    # --only name1,name2: probe just those queries and MERGE their rows
    # into the existing SCALING.md table + Raw dict (a full regen costs
    # ~an hour of probe time and reprices every historical row under
    # today's host load — incremental additions shouldn't pay that).
    only: set[str] = set()
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        missing = only - set(PROBES)
        assert not missing, f"--only names not in PROBES: {missing}"
    probes = {n: s for n, s in PROBES.items() if n in only} if only else PROBES

    all_queries()
    spark = get_spark(master="local[32]", shuffle_partitions=32,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.driver.memory": "8g",
                                  "spark.sql.codegen.wholeStage": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    if "--probe-only" in sys.argv:
        results = {}
        try:
            for k in FACTORS:
                out_dir = f"{TMP}/x{k}"
                rows = {t: replicate(spark, t, keys, k, out_dir)
                        for t, keys in (("embeddings", ["vec_id"]),
                                        ("documents", ["doc_id"]))}
                builders = _probe_only_builders(spark, out_dir)  # untimed
                for name, (table, build) in builders.items():
                    build().write.format("noop").mode("overwrite").save()
                    best = float("inf")
                    for _ in range(2):
                        t0 = time.perf_counter()
                        build().write.format("noop") \
                            .mode("overwrite").save()
                        best = min(best, time.perf_counter() - t0)
                    in_rows = rows[table]
                    results.setdefault(name, {})[k] = {
                        "sec": round(best, 3), "rows": in_rows,
                        "krows_s": round(in_rows / best / 1e3, 1)}
                    print(f"x{k} {name}: {best:.2f}s "
                          f"({in_rows / best / 1e3:.0f} krows/s)",
                          flush=True)
                # artifacts must outlive the timings — release per K,
                # not per run (release_caches removes staging dirs)
                release_caches()
        finally:
            shutil.rmtree(TMP, ignore_errors=True)
            spark.stop()
        _merge_rows(results)
        return

    results: dict[str, dict[int, dict]] = {q: {} for q in probes}
    try:
        for k in FACTORS:
            out_dir = f"{TMP}/x{k}"
            tables = {t for spec in probes.values() for t in spec}
            rows = {t: replicate(spark, t, next(
                spec[t] for spec in probes.values() if t in spec), k, out_dir)
                for t in sorted(tables)}
            for name, spec in probes.items():
                fn = REGISTRY[name].fn
                fn(spark, out_dir).write.format("noop").mode("overwrite").save()
                release_caches()  # warm (scan cache, codegen) — untimed
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn(spark, out_dir).write.format("noop") \
                        .mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                    release_caches()
                in_rows = sum(rows[t] for t in spec)
                results[name][k] = {"sec": round(best, 3),
                                    "rows": in_rows,
                                    "krows_s": round(in_rows / best / 1e3, 1)}
                print(f"x{k} {name}: {best:.2f}s "
                      f"({in_rows / best / 1e3:.0f} krows/s)", flush=True)
        # Adversarial long-chain probe for connected_components: a path
        # graph is the worst case for label propagation (diameter = n).
        # Validates the pointer-jumping claim: rounds grow ~log2(n),
        # time ~linear, correctness exact (single component).
        from spark_sentiment_spark.operators.components import (
            connected_components)

        chain: dict[int, dict] = {}
        for k in FACTORS if not only else []:
            n = 8192 * k
            edges = spark.range(n - 1).select(
                F.col("id").alias("s"), (F.col("id") + 1).alias("d"))
            t0 = time.perf_counter()
            labels, rounds = connected_components(edges, "s", "d",
                                                  return_rounds=True)
            n_comp = labels.select("comp").distinct().count()
            sec = time.perf_counter() - t0
            assert n_comp == 1, f"chain x{k}: {n_comp} components"
            chain[k] = {"sec": round(sec, 3), "rounds": rounds, "nodes": n}
            print(f"x{k} chain_components: {sec:.2f}s "
                  f"{rounds} rounds over {n} nodes", flush=True)
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
        spark.stop()

    if only:
        _merge_rows(results)
        return

    lines = [
        "# SCALING — measured data-volume slopes (local[32], sf0.1 × K)",
        "",
        "Inputs replicated ×K with re-keyed ids (cardinality scales with the",
        "data); per-query best-of-2 after an untimed warm run; `noop` sink",
        "(full execution, no driver collect). The question each row answers:",
        "as data grows with parallelism fixed, does wall time stay ~linear",
        "and throughput ~flat? A super-linear slope would flag a quadratic",
        "term or single-partition bottleneck before it matters at 100 TB.",
        "",
        "Embedding-family caveat: replication re-keys vec_ids but keeps the",
        "VECTORS byte-identical, so all k copies of a vector land in the",
        "same quantizer cells / LSH buckets and within-cell pair work grows",
        "×k² by construction — dedup_semantic's slope (the steepest row)",
        "reads this artifact, not its data-growth cost; its honest guards",
        "are the auto-scaling cell count (k = n / CELL_TARGET holds real",
        "occupancy flat) and the decorrelated-replica candidate-growth pins",
        "in tests/test_similarity_recall.py.",
        "",
        "Staged-index split: the staged queries' own rows are",
        "WRITE-INCLUSIVE (build + probe in one timing). The",
        "`<query>.probe_only` rows (`scale_probe.py --probe-only`) stage",
        "the artifacts untimed, then time ONLY the recurring probe plan —",
        "the amortized per-batch claim, measured. Probe timings include",
        "the bounded driver-side control plane (query routing, ADC-table",
        "construction, codebook read).",
        "",
        "| query | ×1 | ×2 | ×4 | ×8 | ×8/×1 time ratio | krows/s ×1→×8 |",
        "|---|---|---|---|---|---|---|",
    ]
    lines += [_table_row(name, by_k) for name, by_k in results.items()]
    lines += [
        "",
        "## connected_components on an adversarial path graph",
        "",
        "A chain is the worst case for min-label propagation (rounds =",
        "diameter = n). Pointer jumping (operators/components.py) must",
        "hold rounds to ~log2(n) with exact results; the max_iter=50",
        "guard is never the thing producing the answer:",
        "",
        "| nodes | sec | rounds | log2(n) |",
        "|---|---|---|---|",
    ]
    import math
    for k in FACTORS:
        c = chain[k]
        lines.append(f"| {c['nodes']} | {c['sec']}s | {c['rounds']} "
                     f"| {math.log2(c['nodes']):.1f} |")
    lines += [
        "",
        "Reading: a ×8 time ratio at or below 8× (with rows/s flat or",
        "rising, as fixed overhead amortizes) is linear scaling. The LSH",
        "ratio includes signature recompute + bigger bucket joins — its",
        "banded design keeps candidate pairs ~linear in n at fixed",
        "similarity structure.",
        "",
        "Raw: `" + json.dumps(results) + "`",
    ]
    path = os.path.join(os.path.dirname(TMP), "SCALING.md")
    # preserve the ×32 deep-volume section maintained by deep_probe.py —
    # a full-table regeneration must not silently drop it
    deep = ""
    deep_header = "## ×32 deep-volume probe"
    if os.path.exists(path):
        text = open(path).read()
        if deep_header in text:
            deep = "\n" + text[text.index(deep_header):].rstrip() + "\n"
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n" + deep)
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
