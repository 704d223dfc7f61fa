"""Round-13 additions: the persisted PQ and BM25 indexes the streaming
probes serve from. These tests pin what an oracle row can't see: the
persisted artifacts themselves (codes + codebook parquet exist, codes
carry the 32x-compressed schema), the probe's pruning, and byte-equality
of each probe to its INLINE query."""

import glob

from tests.conftest import SF_DIR


def test_pq_index_artifacts_are_staged(spark):
    """The build phase must leave BOTH artifacts on disk — the code
    table (vec_id + M small-int codes, the 32x compression) and the
    M x K codebook (so a probe replays with no corpus access)."""
    from spark_sentiment_spark.operators.vectors import (PQ_K, PQ_M,
                                                         pq_stage_index,
                                                         unit_vector_frame)
    from spark_sentiment_spark.plans.registry import load, release_caches

    vecs = unit_vector_frame(load(spark, SF_DIR, "embeddings"), "e")
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
    release_caches()
    # track_staging_dir cleanup must reclaim the index (no staging leaks)
    assert not glob.glob(base + "/codes/part-*")


def test_streaming_pq_probe_two_batches_equals_inline(spark):
    """The streaming leg of the quantized index must (a) actually
    run as TWO micro-batches (one staged query file per trigger) and
    (b) produce exactly the inline `ann_pq_topk` result — batch
    boundaries cannot matter because ADC tables are per-query, the code
    table is static, and each qid lives in exactly one batch. The probe
    chain is `pq_adc_topk` — the same function `ann_pq_topk` runs — so
    this pins the STAGING plumbing, not a re-derivation
    of the math."""
    from spark_sentiment_spark.plans import registry
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    before = set(registry._STAGED_DIRS)
    streamed = [(r["qid"], r["rn"], r["vec_id"], r["cosine"])
                for r in REGISTRY["streaming_pq_probe"]
                .fn(spark, SF_DIR).collect()]
    hit_dirs = [d for d in registry._STAGED_DIRS
                if d not in before and "pq_hits_" in d]
    assert hit_dirs, "hit sink not tracked"
    batches = glob.glob(hit_dirs[-1] + "/batch_id=*")
    assert len(batches) == 2, batches

    inline = [(r["qid"], r["rn"], r["vec_id"], r["cosine"])
              for r in REGISTRY["ann_pq_topk"].fn(spark, SF_DIR).collect()]
    release_caches()
    assert streamed == inline
    assert streamed, "fixture produced no top-k rows"


def test_bm25_persisted_probe_matches_inline_and_prunes(spark):
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
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from tests.oracle_utils import compare, duck_connection

    all_queries()

    def probe_df():
        postings, dl = bm25_stage_index(spark, SF_DIR)
        return bm25_probe(postings, dl, bm25_query_frame(spark), BM25_TERMS)

    df = probe_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "probe re-scanned the corpus"
    postings_scans = [l for l in plan.splitlines()
                      if "FileScan" in l and "/postings" in l]
    assert postings_scans and all(
        "PushedFilters: [In(w, [" in l for l in postings_scans), \
        "term IN-filter not pushed to the postings scan"

    probe = [tuple(r) for r in df.collect()]
    inline = [tuple(r) for r in REGISTRY["search_bm25"].fn(spark, SF_DIR)
              .collect()]
    assert probe == inline and probe

    ok, msg = compare(probe_df(), duck_connection(SF_DIR), BM25_SQL,
                      "bm25_probe")
    release_caches()
    assert ok, msg


def test_streaming_bm25_probe_two_batches_equals_inline(spark):
    """The retrieval family's streaming leg must (a) actually run as TWO
    micro-batches (one staged query-term file per trigger) and (b)
    produce exactly the inline `search_bm25` ranking — batch boundaries
    cannot matter because df/stats derive only from the static
    artifacts and each qid lives in exactly one batch. The per-batch
    scoring is `bm25_score_topk` — the same chain `search_bm25` runs —
    so this pins the staging plumbing, not a re-derivation."""
    from spark_sentiment_spark.plans import registry
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    before = set(registry._STAGED_DIRS)
    streamed = [tuple(r) for r in REGISTRY["streaming_bm25_probe"]
                .fn(spark, SF_DIR).collect()]
    hit_dirs = [d for d in registry._STAGED_DIRS
                if d not in before and "bm25_hits_" in d]
    assert hit_dirs, "hit sink not tracked"
    batches = glob.glob(hit_dirs[-1] + "/batch_id=*")
    assert len(batches) == 2, batches

    inline = [tuple(r) for r in REGISTRY["search_bm25"].fn(spark, SF_DIR)
              .collect()]
    release_caches()
    assert streamed == inline
    assert streamed, "fixture produced no rankings"
