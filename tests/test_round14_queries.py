"""Round-14 additions. `ann_ivfpq_persisted_probe` has an exact DuckDB
oracle (driver-routed, and swept by tests/test_oracle.py); these tests
pin what the driver row can't see: the three persisted artifacts and
their shapes (per-cell code partitions, centroids, codebook), and the
composition's consistency with its two certified halves."""

import glob

from tests.conftest import SF_DIR


def test_ivfpq_index_artifacts_are_staged(spark):
    """The build phase must leave all THREE artifacts on disk — the code
    table partitioned by cell (each vector in its IVF_ASSIGN=2 home
    cells, M small-int codes each), the K-row centroid table (probe
    routing replays from the artifact), and the M x K codebook (ADC
    tables replay from the artifact)."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.operators.vectors import IVF_ASSIGN, PQ_K, PQ_M

    all_queries()
    df = REGISTRY["ann_ivfpq_persisted_probe"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    base = next(seg for seg in plan.split("file:")[1:]
                if "ivfpq_index_" in seg).split("/codes", 1)[0]

    codes = spark.read.parquet(base + "/codes")
    assert sorted(f.name for f in codes.schema) == ["cell", "codes",
                                                    "vec_id"]
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert codes.count() == IVF_ASSIGN * n   # multi-assignment: 2 cells each
    assert codes.select("vec_id").distinct().count() == n
    lens = codes.selectExpr("min(size(codes)) a", "max(size(codes)) b") \
        .first()
    assert lens["a"] == lens["b"] == PQ_M

    cent = spark.read.parquet(base + "/centroids")
    assert cent.count() == PQ_K
    cb = spark.read.parquet(base + "/codebook")
    assert cb.count() == PQ_M * PQ_K
    assert len(glob.glob(base + "/codes/cell=*")) == PQ_K
    release_caches()
    # track_staging_dir cleanup must reclaim the index (no staging leaks)
    assert not glob.glob(base + "/codes/cell=*")


def test_ivfpq_candidates_are_the_ivf_cells_pq_ranked(spark):
    """Consistency with the two certified halves: every IVFPQ result id
    must lie in the pure-IVF candidate universe (same probed cells — the
    coarse layer is shared arithmetic), and the exact-cosine values must
    agree with the brute-force query wherever the same (qid, vec_id)
    pair appears in both."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    composed = REGISTRY["ann_ivfpq_persisted_probe"].fn(spark, SF_DIR) \
        .collect()
    exact = REGISTRY["knn_cosine_topk"].fn(spark, SF_DIR).collect()
    release_caches()
    assert composed, "fixture produced no top-k rows"
    exact_cos = {(r.qid, r.vec_id): r.cosine for r in exact}
    for r in composed:
        if (r.qid, r.vec_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.qid, r.vec_id)]) < 1e-9


def test_prepare_training_set_stage_consistency(spark):
    """The composed training-set build must agree with each standalone
    stage query where their semantics overlap: every selected doc
    survived curation; shard assignment is content-addressed so it must
    EQUAL shuffle_shards' for the same doc_id; and within a source the
    md5 pick order must be a subsequence of mixture_apply's order (the
    universe differs — kept-only vs all docs — but md5 rank is a stable
    total order). The fixture's quota is fully consumable, so the
    budget must be exactly consumed."""
    from spark_sentiment_spark.plans.pipeline_queries import PREP_BUDGET
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    prep = REGISTRY["prepare_training_set"].fn(spark, SF_DIR).collect()
    manifest = {r.doc_id: r.keep
                for r in REGISTRY["curate_corpus"].fn(spark, SF_DIR)
                .collect()}
    shards = {r.doc_id: r.shard
              for r in REGISTRY["shuffle_shards"].fn(spark, SF_DIR)
              .collect()}
    mix_rank = {(r.source, r.doc_id): r.pick
                for r in REGISTRY["mixture_apply"].fn(spark, SF_DIR)
                .collect()}
    release_caches()

    assert len(prep) == PREP_BUDGET
    assert all(manifest[r.doc_id] for r in prep), "picked a dropped doc"
    assert all(shards[r.doc_id] == r.shard for r in prep)

    by_source: dict = {}
    for r in prep:
        by_source.setdefault(r.source, []).append(r)
    for source, rows in by_source.items():
        rows.sort(key=lambda r: r.pick)
        # the composed pick order restricted to docs mixture_apply also
        # selected must preserve mixture_apply's order
        both = [r.doc_id for r in rows if (source, r.doc_id) in mix_rank]
        assert both == sorted(both,
                              key=lambda d: mix_rank[(source, d)]), source


def test_streaming_ivfpq_probe_two_batches_equals_batch_form(spark):
    """The composed index's streaming leg must (a) actually run as TWO
    micro-batches (one staged query file per trigger) and (b) produce
    exactly the batch probe's result — batch boundaries cannot matter
    because routing, probe cells, ADC tables, and the per-qid windows
    are per-query and the artifacts are static. The per-batch chain is
    `ivfpq_probe` — the same function the batch probe runs — so this
    pins the STAGING plumbing, not a re-derivation of the math."""
    import glob

    from spark_sentiment_spark.plans import registry
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    before = set(registry._STAGED_DIRS)
    streamed = [(r["qid"], r["rn"], r["vec_id"], r["cosine"])
                for r in REGISTRY["streaming_ivfpq_probe"]
                .fn(spark, SF_DIR).collect()]
    hit_dirs = [d for d in registry._STAGED_DIRS
                if d not in before and "ivfpq_hits_" in d]
    assert hit_dirs, "hit sink not tracked"
    batches = glob.glob(hit_dirs[-1] + "/batch_id=*")
    assert len(batches) == 2, batches

    batch_form = [(r["qid"], r["rn"], r["vec_id"], r["cosine"])
                  for r in REGISTRY["ann_ivfpq_persisted_probe"]
                  .fn(spark, SF_DIR).collect()]
    release_caches()
    assert streamed == batch_form
    assert streamed, "fixture produced no top-k rows"


def test_pack_spans_tile_windows_exactly(spark):
    """Wall-to-wall packing invariants the oracle's hash can't state as
    theorems: per-document segment lengths sum to n_tokens (no token
    lost or duplicated at a boundary), every non-final window per
    source is EXACTLY full (segments tile it gaplessly), and each
    document's first segment lands in the window `pack_sequences`
    assigns it (the span table refines, never contradicts, the parent
    query)."""
    from collections import defaultdict

    from spark_sentiment_spark.plans.pipeline_queries import PACK_BUDGET
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    rows = REGISTRY["pack_sequences_spans"].fn(spark, SF_DIR).collect()
    parent = {r.doc_id: r.window_id
              for r in REGISTRY["pack_sequences"].fn(spark, SF_DIR)
              .collect()}
    release_caches()
    assert rows

    per_doc = defaultdict(int)
    per_win = defaultdict(int)
    first_w: dict = {}
    n_tok: dict = {}
    positions = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id] += r.seg_len
        per_win[(r.source, r.window_id)] += r.seg_len
        first_w[r.doc_id] = min(first_w.get(r.doc_id, r.window_id),
                                r.window_id)
        n_tok[r.doc_id] = r.n_tokens
        positions[(r.source, r.window_id)].append(
            (r.pos_in_window, r.seg_len))
    assert all(per_doc[d] == n_tok[d] for d in per_doc)
    last_w = defaultdict(lambda: -1)
    for (s, w) in per_win:
        last_w[s] = max(last_w[s], w)
    assert all(v == PACK_BUDGET
               for (s, w), v in per_win.items() if w < last_w[s])
    assert all(first_w[d] == parent[d] for d in first_w)
    # segments within a window tile gaplessly from offset 0
    for key, segs in positions.items():
        segs.sort()
        off = 0
        for pos, ln in segs:
            assert pos == off, key
            off += ln


def test_mixture_upsample_epochs_and_budget(spark):
    """The upsampling mixture's contract: the budget is consumed
    EXACTLY (uncapped quotas sum to it by construction), epoch 1 is
    actually reached on this fixture (quota > source size — otherwise
    the query silently degenerates to `mixture_apply`), every doc of
    an upsampled source appears floor(q/n) or ceil(q/n) times, and the
    epoch-0 slice IS the capped sampling form's pick set restricted to
    the same quota."""
    from collections import Counter

    from spark_sentiment_spark.plans.corpus_queries import UPSAMPLE_BUDGET
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    rows = REGISTRY["mixture_upsample"].fn(spark, SF_DIR).collect()
    release_caches()
    assert len(rows) == UPSAMPLE_BUDGET
    assert max(r.epoch for r in rows) >= 1, "fixture never upsampled"

    per_source_q = Counter(r.source for r in rows)
    reps = Counter((r.source, r.doc_id) for r in rows)
    docs_per_source: dict = {}
    for (s, d) in reps:
        docs_per_source.setdefault(s, set()).add(d)
    for (s, d), c in reps.items():
        q, n = per_source_q[s], len(docs_per_source[s])
        assert c in (q // n, q // n + (1 if q % n else 0)), (s, d, c)
    # within a source, epoch 0 covers the md5-smallest min(q, n) docs —
    # the same content-addressed prefix mixture_apply picks
    for s in per_source_q:
        e0 = [r for r in rows if r.source == s and r.epoch == 0]
        assert len(e0) == min(per_source_q[s], len(docs_per_source[s]))


def test_ivfpq_index_append_contract(spark):
    """The documented append contract, demonstrated: with the quantizer
    artifacts frozen (centroids + codebook copied from the original
    build), a code table assembled by TWO partitionBy-cell APPEND
    writes must serve a probe byte-identically to the one-shot index —
    newly indexed vectors really can land in their cells' partitions
    between batches without rebuilding anything."""
    import tempfile

    from pyspark.sql import functions as F

    from spark_sentiment_spark.plans.registry import (load, release_caches,
                                                      track_staging_dir)
    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, as_double, ivfpq_probe, ivfpq_stage_index, norm)

    emb = load(spark, SF_DIR, "embeddings")
    e = as_double("embedding")
    unit = F.transform(e, lambda x: x / norm(e))
    vecs = emb.select("vec_id", unit.alias("e"))

    base, n_codes = ivfpq_stage_index(spark, vecs)
    full = [tuple(r) for r in
            ivfpq_probe(spark, vecs, base, n_codes, IVFPQ_RERANK, 10)
            .collect()]

    base2 = track_staging_dir(tempfile.mkdtemp(prefix="ivfpq_append_"))
    for art in ("centroids", "codebook"):
        spark.read.parquet(f"{base}/{art}") \
            .write.parquet(f"{base2}/{art}")
    codes = spark.read.parquet(base + "/codes")
    for parity in (0, 1):  # initial ingest, then an append batch
        codes.where(F.col("vec_id") % 2 == parity) \
            .write.partitionBy("cell").mode("append") \
            .parquet(base2 + "/codes")

    incr = [tuple(r) for r in
            ivfpq_probe(spark, vecs, base2, n_codes, IVFPQ_RERANK, 10)
            .collect()]
    release_caches()
    assert incr == full and full
