"""Round-13 additions. `ann_pq_persisted_probe` has an exact DuckDB
oracle (driver-routed); these tests pin what the driver row can't see:
byte-equality to the INLINE form (the phase split must be a pure
physical refactor) and the persisted artifacts themselves (codes +
codebook parquet exist, codes carry the 32x-compressed schema)."""

import glob

from tests.conftest import SF_DIR


def test_pq_persisted_probe_matches_oracle_and_inline(spark):
    """The persisted-index probe must return EXACTLY the inline
    `ann_pq_topk` result (same content-addressed codebooks, same
    fixed-point ADC, only the physical phase split differs) and match
    the shared DuckDB oracle cross-engine."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from tests.oracle_utils import compare, duck_connection

    all_queries()
    q = REGISTRY["ann_pq_persisted_probe"]
    persisted = q.fn(spark, SF_DIR)
    inline = REGISTRY["ann_pq_topk"].fn(spark, SF_DIR)
    rows_p = [tuple(r) for r in persisted.collect()]
    rows_i = [tuple(r) for r in inline.collect()]
    release_caches()
    assert rows_p == rows_i

    con = duck_connection(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.sql,
                      "ann_pq_persisted_probe")
    release_caches()
    assert ok, msg


def test_pq_index_artifacts_are_staged(spark):
    """The build phase must leave BOTH artifacts on disk — the code
    table (vec_id + M small-int codes, the 32x compression) and the
    M x K codebook (so a probe replays with no corpus access)."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.operators.vectors import PQ_K, PQ_M

    all_queries()
    df = REGISTRY["ann_pq_persisted_probe"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    base = next(seg for seg in plan.split("file:")[1:]
                if "pq_index_" in seg).split("/codes", 1)[0]
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
    """The streaming leg of the quantized index triad must (a) actually
    run as TWO micro-batches (one staged query file per trigger) and
    (b) produce exactly the inline `ann_pq_topk` result — batch
    boundaries cannot matter because ADC tables are per-query, the code
    table is static, and each qid lives in exactly one batch. The probe
    chain is `pq_adc_topk` — the same function the persisted batch
    probe runs — so this pins the STAGING plumbing, not a re-derivation
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


def test_curate_corpus_staged_matches_inline_and_never_rescans(spark):
    """The staged curation pass must (a) emit the inline pass's manifest
    byte-identically (the staging is a pure physical split — same gate,
    same window keys, same gram stream, same `_curation_verdicts`
    assembly), (b) assemble its verdict from the persisted artifacts
    with ZERO documents-table scans in the executed plan (the 4-scan →
    2-scan I/O claim), and (c) stage BOTH artifacts."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from tests.oracle_utils import compare, duck_connection

    all_queries()
    q = REGISTRY["curate_corpus_staged"]
    df = q.fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "assembly re-scanned the corpus"
    base = next(seg for seg in plan.split("file:")[1:]
                if "curate_stage_" in seg and "/verdicts" in seg
                ).split("/verdicts", 1)[0]
    verdicts = spark.read.parquet(base + "/verdicts")
    assert [f.name for f in verdicts.schema] == [
        "doc_id", "q_keep", "q_reason", "prefix_hash", "n_chars"]
    assert glob.glob(base + "/grams/part-*")

    staged = [tuple(r) for r in df.collect()]
    inline = [tuple(r) for r in REGISTRY["curate_corpus"].fn(spark, SF_DIR)
              .collect()]
    assert staged == inline and staged

    ok, msg = compare(q.fn(spark, SF_DIR), duck_connection(SF_DIR), q.sql,
                      "curate_corpus_staged")
    release_caches()
    assert ok, msg
    # track_staging_dir cleanup must reclaim the artifacts (no leaks)
    assert not glob.glob(base + "/verdicts/part-*")


def test_bm25_persisted_probe_matches_inline_and_prunes(spark):
    """The persisted inverted index must (a) return EXACTLY the inline
    `search_bm25` ranking (scoring chain shared via `bm25_score_topk`,
    so this pins the index staging, not a re-derivation), (b) assemble
    the probe from the artifacts with ZERO documents-table scans, and
    (c) push the term IN-filter into the postings scan — the row-group
    seek the sorted layout exists for."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from tests.oracle_utils import compare, duck_connection

    all_queries()
    q = REGISTRY["search_bm25_persisted_probe"]
    df = q.fn(spark, SF_DIR)
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

    ok, msg = compare(q.fn(spark, SF_DIR), duck_connection(SF_DIR), q.sql,
                      "search_bm25_persisted_probe")
    release_caches()
    assert ok, msg


def test_streaming_bm25_probe_two_batches_equals_inline(spark):
    """The retrieval family's streaming leg must (a) actually run as TWO
    micro-batches (one staged query-term file per trigger) and (b)
    produce exactly the inline `search_bm25` ranking — batch boundaries
    cannot matter because df/stats derive only from the static
    artifacts and each qid lives in exactly one batch. The per-batch
    scoring is `bm25_score_topk` — the same chain both batch forms
    run — so this pins the staging plumbing, not a re-derivation."""
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
