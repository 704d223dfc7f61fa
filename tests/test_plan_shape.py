"""Plan-shape regression tests: the physical plans the engine is designed
to produce (broadcast joins for dims, pushed filters, pruned scans, no
Python in native paths) must not silently regress."""

import re

import pytest

from tests.conftest import SF_DIR


def _plan(spark, name):
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    return REGISTRY[name].fn(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier",
                                  "q10_returned_items"])
def test_tpch_joins_broadcast_dims(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan     # dims are bounded → BHJ only


def test_q6_pushdown_and_pruning(spark, monkeypatch):
    # Production shape (fanout skipped, as on any non-local master): the
    # scan must read exactly q6's 4 columns out of the 16-column lineitem.
    from spark_sentiment_spark.plans import registry

    with monkeypatch.context() as m:
        m.setattr(registry, "_fanout_needed", lambda spark: False)
        plan = _plan(spark, "q6_forecast_revenue")
    # NB: plan strings truncate long lists ("...") — match within the line.
    m = re.search(r"PushedFilters: \[[^\n]*l_shipdate", plan)
    assert m, "shipdate filter not pushed to the parquet scan"
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    read_cols = m.group(1)
    # projection pruning: q6 needs 4 columns, not the 16-column lineitem
    assert len(read_cols.split(",")) <= 4

    # Local-bench shape: the round-18 hash-keyed fan-out (registry.load)
    # may add ONLY its partition key (l_orderkey) to the scan — pinned so
    # a future edit can't silently widen the read schema further.
    plan = _plan(spark, "q6_forecast_revenue")
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    cols = m.group(1).split(",")
    assert len(cols) <= 5
    extra = [c for c in cols
             if not re.match(r"l_(orderkey|quantity|extendedprice|discount"
                             r"|shipdate)#", c)]
    assert not extra, f"unexpected scan columns: {extra}"


def test_wordscore_raw_is_pure_jvm(spark):
    plan = _plan(spark, "wordscore_sentiment")
    assert "BroadcastHashJoin" in plan     # lexicon probe is a broadcast join
    assert "Python" not in plan            # fully native path


def test_native_text_queries_have_no_python(spark):
    for name in ["clean_text", "quality_scores", "langid_stopword",
                 "doc_fingerprints", "dedup_exact"]:
        plan = _plan(spark, name)
        assert "Python" not in plan, f"{name} plan fell back to Python"


def test_minhash_python_confined_to_signature_stage(spark):
    """The mapInPandas signature stage is the ONLY Python in the minhash
    plan (it exists precisely to avoid shuffling the token stream);
    banding, bucket join, and agreement stay JVM-side."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "dedup_minhash_lsh")
    release_caches()
    # ONE persisted signature stage, printed under each of its four
    # consumer branches (bucket self-join a/b, agreement join am/bm) in
    # the pre-materialization plan
    assert plan.count("MapInPandas") <= 4
    assert "BatchEvalPython" not in plan
    assert "Exchange" in plan              # the banding join still shuffles


def test_knn_broadcasts_queries_not_corpus(spark):
    plan = _plan(spark, "knn_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q9_product_profit",
                                  "q16_supplier_variety"])
def test_new_tpch_shapes_broadcast_and_push(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_q4_semi_join_physical(spark):
    plan = _plan(spark, "q4_priority_exists")
    assert "LeftSemi" in plan
    m = re.search(r"PushedFilters: \[[^\n]*o_orderdate", plan)
    assert m, "orderdate filter not pushed to the orders scan"


def test_tfidf_topk_native_with_broadcasts(spark):
    plan = _plan(spark, "text_tfidf_topk")
    assert "Python" not in plan            # explode/agg/window all JVM-side
    assert "BroadcastHashJoin" in plan     # df side broadcasts
    assert "Window" in plan


def test_gap_fill_single_window_shuffle(spark):
    plan = _plan(spark, "events_gap_fill")
    assert "Python" not in plan
    assert plan.count("Window") >= 1
    # forward-fill must be a running frame, not a re-sort per row
    assert "unboundedpreceding" in plan.lower()


def test_decontaminate_broadcasts_benchmark_side(spark):
    plan = _plan(spark, "decontaminate_ngram")
    assert "Python" not in plan            # n-grams are native transform/slice
    assert "BroadcastHashJoin" in plan     # benchmark grams broadcast
    assert "SortMergeJoin" not in plan


def test_quality_repetition_is_native_single_agg(spark):
    plan = _plan(spark, "quality_repetition")
    assert "Python" not in plan
    # countDistinct expands to a two-phase agg on (doc_id, g) then doc_id;
    # both must be partial+final hash aggs, no sort-based fallback
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_ann_lsh_python_confined_to_signature_stage(spark):
    """The pandas-UDF matmul is the ONLY Python in the LSH plan: the
    bucket self-join, dedup, and re-rank must stay JVM-side."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    df = REGISTRY["ann_lsh_topk"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_caches()
    # the persisted signature stage prints once under each self-join branch
    # in the pre-materialization plan — 2 nodes, 1 actual evaluation
    assert plan.count("ArrowEvalPython") <= 2
    assert "BatchEvalPython" not in plan   # no row-at-a-time Python
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan \
        or "SortMergeJoin" in plan         # re-rank joins are JVM joins


def test_pipeline_queries_native_and_bounded_shuffles(spark):
    """The pipeline-prep family is pure JVM and stays within its shuffle
    budget: packing/cap shuffle once on the shard key (+ the width
    normalizer + output sort), split/mixture are narrow projections."""
    budgets = {"pack_sequences": 3, "cap_per_source": 3,
               "split_by_hash": 2, "mixture_sample": 2,
               "dedup_prefix": 3, "vocab_coverage": 6}
    for name, budget in budgets.items():
        plan = _plan(spark, name)
        assert "Python" not in plan, f"{name} fell back to Python"
        n = plan.count("Exchange")
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_dedup_incremental_anti_join_no_python(spark):
    plan = _plan(spark, "dedup_incremental")
    assert "Python" not in plan
    assert "LeftAnti" in plan, "corpus-index dedup must be an anti-join"


def test_perplexity_native_cached_token_table(spark):
    """Train+score in one plan: no Python anywhere, the corpus-scalar
    total is a broadcast, and the exploded token table is read from cache
    (tokenized once) on every consumer."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "quality_perplexity")
    release_caches()
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" in plan      # 1-row corpus total
    assert plan.count("InMemoryTableScan") >= 2   # vocab side + score side


def test_hybrid_rrf_broadcasts_queries_and_caches_index(spark):
    """Vector side broadcasts the 3 query vectors; lexical side reads the
    persisted inverted index; fusion never touches Python."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "hybrid_search_rrf")
    release_caches()
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" in plan      # 3-query crossJoin
    assert plan.count("InMemoryTableScan") >= 3   # sizes + qside + corpus


def test_corpus_stats_queries_native_no_smj(spark):
    """Round-4 corpus-stats family: fully JVM-side, no sort-merge joins
    (every join side here is genuinely bounded — vocab/label-sized count
    tables or 1-row corpus scalars → broadcast), no cartesian blowup."""
    for name in ["corpus_token_entropy", "mixture_temperature",
                 "token_pmi_bigrams", "embedding_norm_stats",
                 "events_session_sequences"]:
        plan = _plan(spark, name)
        assert "Python" not in plan, f"{name} fell back to Python"
        assert "SortMergeJoin" not in plan, f"{name} shuffled a bounded side"
        assert "CartesianProduct" not in plan, f"{name} has a cartesian"


def test_contrastive_pairs_native_no_cartesian(spark):
    """contrastive_pairs' negative join puts the corpus-sized ranked
    table on BOTH sides (rank-matched lookup) — at bench SF the planner
    broadcasts it, at scale a shuffle join on (label, rank) is the
    correct LINEAR plan, so no-SMJ is deliberately NOT asserted here.
    What must hold at any scale: no Python, no cartesian product."""
    plan = _plan(spark, "contrastive_pairs")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_round4_selfjoin_queries_native(spark):
    """preference_pairs / source_overlap / drift_psi / shard_balance:
    JVM-native end-to-end; the self-joins run on (source|hash, rank)
    keys after aggregation, never as cartesian products."""
    for name in ["preference_pairs", "source_overlap", "drift_psi",
                 "shard_balance"]:
        plan = _plan(spark, name)
        assert "Python" not in plan, f"{name} fell back to Python"
        assert "CartesianProduct" not in plan, f"{name} has a cartesian"


def test_pmi_broadcasts_unigram_probes(spark):
    """At test SF the size estimator broadcasts both unigram probes (no
    explicit hint since round 5 — a web-scale whitespace vocabulary is
    not broadcast-safe, so strategy is left to estimates + AQE, which
    correctly flips to a shuffle join past the threshold). The 1-row
    corpus scalars stay broadcast at any scale."""
    plan = _plan(spark, "token_pmi_bigrams")
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row scalars


def test_pii_redaction_is_pure_mapside_jvm(spark):
    """pii_redaction is scan → concat → native regexp chain: no Python,
    no join of any kind, and the only exchange is the output sort."""
    plan = _plan(spark, "pii_redaction")
    assert "Python" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # rangepartition + sort for orderBy


def test_dedup_semantic_native_no_cartesian(spark):
    """dedup_semantic (round-5 IVF-seeded form): JVM-native end-to-end —
    the centroid assignment is a broadcast-k cross join (BNLJ over the
    bounded centroid table, never a CartesianProduct), and the pair
    search joins on the cell key."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "dedup_semantic")
    release_caches()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the bounded centroid probe


_PY_OPS = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas")


@pytest.mark.parametrize("name", [
    "dedup_simjoin_prefix", "dedup_containment_prefix",
    "langid_char_ngram", "vocab_growth_curve",
    "quantile_histogram_sketch", "skew_profile",
    "agg_hll_sketch", "token_cms_topk", "zorder_layout",
    "join_skew_salted", "events_rollup_incremental", "events_cdc_state",
])
def test_round5_additions_are_pure_jvm(spark, name):
    """Every late round-5 query except the multimodal decode is a fully
    native plan — md5 polynomials, bit interleaves and sketch folds
    included. A Python operator appearing here means an expression fell
    off the JVM path."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, name)
    release_caches()
    assert not _PY_OPS.search(plan), plan[:1500]


def test_phash_python_confined_to_decode(spark):
    """multimodal_phash_dedup's only Python is the Arrow-batched raster
    decode (by design); banding, candidate join and hamming verify must
    all be JVM expressions — so the plan has MapInPandas and nothing
    else Pythonic."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "multimodal_phash_dedup")
    release_caches()
    assert "MapInPandas" in plan
    assert not re.search(
        r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas", plan)


# --- Round-5 streaming trio: no-Python / bounded-state pins -----------------
# The streaming STAGE is inspected pre-run (analyzed logical plan of the
# unstarted stream), the batch fold post-hoc — together they pin the claims
# the round-5 additions were registered under: watermarked state, no Python
# operators anywhere, sketch state bounded by the register count.


def test_streaming_conversions_stream_stage_shape(spark):
    """Stream-stream interval join: BOTH sides watermarked (state expires
    once the watermark passes signup.ts + horizon) and the join is a
    single inner join — no Python anywhere in the streaming stage."""
    from spark_sentiment_spark.streaming.streams import (
        read_event_stream, stream_stream_conversions)

    sdf = stream_stream_conversions(read_event_stream(spark, SF_DIR))
    lp = sdf._jdf.queryExecution().analyzed().toString()
    assert lp.count("EventTimeWatermark") == 2
    assert lp.count("Join Inner") == 1
    assert "Python" not in lp and "InPandas" not in lp


def test_streaming_dedup_stream_stage_shape(spark):
    """Watermarked ingest dedup: the deduplicate operator is the
    WithinWatermark variant (state is O(events per watermark window),
    not O(all keys ever)) sitting above an event-time watermark."""
    from spark_sentiment_spark.streaming.streams import (
        dedup_stream, read_event_stream)

    ev = read_event_stream(spark, SF_DIR)
    sdf = dedup_stream(ev.unionByName(read_event_stream(spark, SF_DIR)))
    lp = sdf._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in lp
    assert "EventTimeWatermark" in lp
    assert "Python" not in lp and "InPandas" not in lp


def test_streaming_hll_state_bounded_and_jvm(spark):
    """streaming_hll_distinct keeps ONE row of streaming state per HLL
    register — the memory sink can never exceed 256 rows regardless of
    stream length — and the batch fold over the sink is pure JVM with
    the 1-row exact twin broadcast."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.operators.sketch import HLL_M

    all_queries()
    out = REGISTRY["streaming_hll_distinct"].fn(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_caches()
    assert not _PY_OPS.search(plan), plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan  # 1-row exact twin broadcast
    # the sink table (first table in the plan's InMemory scan) is the
    # bucket-maxima state: bounded by the register count
    sink_rows = spark.table([t for t in spark.catalog.listTables()
                             if t.name.startswith("stream_hll")][-1].name) \
        .count()
    assert sink_rows <= HLL_M


def test_round7_queries_stay_jvm_native(spark):
    """Every round-7 query except the documented multiprobe signature
    matmul is pure JVM: no Python operators anywhere in the plan."""
    from spark_sentiment_spark.plans.registry import release_caches

    for name in ["dedup_span_excise", "dedup_sentence_exact",
                 "dedup_tfidf_cosine", "search_bm25", "knn_classify",
                 "embedding_outliers", "events_scd2_history",
                 "events_peak_concurrency", "agg_mad_by_group",
                 "events_cumulative_users", "events_type_affinity",
                 "token_zipf_fit", "events_sliding_users_hll",
                 "events_temporal_join"]:
        plan = _plan(spark, name)
        release_caches()
        assert "Python" not in plan, f"{name} plan fell back to Python"


def test_multiprobe_python_confined_to_signature_stage(spark):
    """dedup_embedding_multiprobe's only Python is the Arrow-batched
    BLAS signature matmul (the module's documented exception); the
    bucket join, pair dedup and cosine re-rank stay JVM-side."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "dedup_embedding_multiprobe")
    release_caches()
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") <= 2  # probe/home branches of sigs


def test_bm25_broadcasts_queries_and_scalar_only(spark):
    """search_bm25: the query-term list and the (N, avgdl) scalar
    broadcast; the posting lists meet them in hash joins — the corpus is
    never on a broadcast side."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "search_bm25")
    release_caches()
    assert "SortMergeJoin" not in plan


def test_join_bucketed_colocated(spark):
    """join_bucketed: both sides of the SortMergeJoin read pre-bucketed
    tables, so NO Exchange feeds the join — the only shuffles in the
    whole plan are the final agg + output sort, both ABOVE the join in
    the tree. The scans must actually use the bucketing (`Bucketed:
    true`, all 8 buckets selected), not fall back to a plain file scan."""
    plan = _plan(spark, "join_bucketed")
    assert plan.count("SortMergeJoin") == 1
    assert plan.count("Bucketed: true") == 2
    # toString prints top-down: everything after the SMJ line is its
    # subtree — the co-location claim is "no shuffle below the join"
    below_join = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join
    # Above the join only the final agg + output sort may shuffle. An
    # upper bound, not an exact toString substring count (round-8
    # ADVICE: exact counts are brittle across Spark minor versions /
    # AQE plan formatting even when co-location still holds).
    assert plan.count("Exchange") <= 2


def test_io_schema_evolution_merged_read(spark):
    """io_schema_evolution: the merged scan reads BOTH partition subdirs
    of the evolved table (partition discovery), and the whole aggregate
    is native JVM."""
    plan = _plan(spark, "io_schema_evolution")
    assert "Python" not in plan
    assert plan.count("FileScan parquet") == 1


def test_link_parts_fuzzy_blocked_not_cartesian(spark):
    """link_parts_fuzzy: the brand blocking key must carry the join as
    an equi-join (hash join, levenshtein as residual predicate) — never
    a cartesian/BNLJ over all part pairs — and the whole pipeline stays
    JVM-native."""
    plan = _plan(spark, "link_parts_fuzzy")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("SortMergeJoin" in plan)


def test_token_burstiness_two_agg_topk(spark):
    """token_burstiness: explode → (term, doc) agg → term agg → global
    top-k as TakeOrdered; no window, no join, no Python."""
    plan = _plan(spark, "token_burstiness")
    assert "Python" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_minhash_bucketed_probe_no_bkey_shuffle(spark):
    """dedup_minhash_bucketed_probe: the band-index probe join consumes
    two same-bucketed tables, so Catalyst never inserts a hash Exchange
    on the probe key — the corpus index side is read co-located, which
    is the whole claim of the bucketed layout. Later signature joins
    may shuffle on doc ids; the probe key must not."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "dedup_minhash_bucketed_probe")
    release_caches()
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") >= 2
    assert "Exchange hashpartitioning(bkey" not in plan


def test_sample_dsir_topk_never_global_sorts(spark):
    """sample_dsir's corpus-wide Gumbel-top-k must stay inside
    TakeOrderedAndProject (per-partition heaps, k rows to the driver
    merge) — a full range-sort of the scored corpus before the limit is
    the regression the materialized resample exists to avoid. The final
    row_number and output orderBy run over the ≤100-row result only."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "sample_dsir")
    release_caches()
    assert "TakeOrderedAndProject(limit=100" in plan
    # no corpus-wide range sort anywhere; the single SinglePartition
    # exchange feeds the rn window over the ≤100-row TakeOrdered result
    assert plan.count("Exchange rangepartitioning") == 0
    assert plan.count("Exchange SinglePartition") == 1


def test_partitioned_prune_filter_in_partition_filters(spark):
    """io_partitioned_prune: the day predicate is satisfied ENTIRELY by
    partition-directory pruning — it lands in the scan's
    PartitionFilters and leaves DataFilters empty, so non-matching day
    directories are never opened."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "io_partitioned_prune")
    release_caches()
    scan = next(l for l in plan.splitlines()
                if "PartitionFilters" in l and "day" in l)
    assert "DataFilters: []" in scan
    pf = scan.split("PartitionFilters: [", 1)[1]
    assert "2024-01-05" in pf and "2024-01-12" in pf


def test_winnowing_single_doc_shuffle(spark):
    """doc_winnowing is doc-local by design: ONE hash exchange on
    doc_id serves the lag/lead window, the per-doc count window, AND
    the partial+final aggregate (same key, no re-shuffle); no join
    appears anywhere. The only other exchanges are the load()
    round-robin and the output orderBy's range sort."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "doc_winnowing")
    release_caches()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert "partial_count" in plan  # map-side combine before the final agg


def test_stickiness_hll_no_user_rank_machinery(spark):
    """events_stickiness_hll exists to remove every user-scaled term
    from the MAU path: the plan must contain NO Window operator (no
    rank/rolling-distinct state) and NO SortMergeJoin — the trailing-28
    merge is exactly one BroadcastNestedLoopJoin whose BROADCAST side is
    the bounded days grid (the partial table side streams), and the
    final per-day assembly is broadcast hash joins over |days| rows."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "events_stickiness_hll")
    release_caches()
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert len(bnlj) == 1, bnlj
    assert "BuildLeft" in bnlj[0] and "28" in bnlj[0], bnlj[0]
    assert "BroadcastHashJoin" in plan


def test_rfm_cutpoints_no_user_rank_no_cartesian(spark):
    """events_rfm_cutpoints' only windows are the three cum-count passes
    over per-axis FREQUENCY tables (bounded by distinct values, never
    users); the target/cut joins are tiny broadcasts — a cartesian
    product or sort-merge join appearing here means the broadcast
    scalars regressed into real shuffled joins."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "events_rfm_cutpoints")
    release_caches()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    windows = [l for l in plan.splitlines() if "Window [" in l]
    assert len(windows) == 3, windows


def test_sample_weighted_topk_never_global_sorts(spark):
    """sample_weighted's corpus-wide ordering must stay inside
    TakeOrderedAndProject (per-partition heaps merged at k+1 rows) — a
    full range-sort of the corpus appearing before the limit is the
    regression this query exists to avoid. The persisted ≤101-row top
    set serves BOTH the output branch and the τ branch (one corpus
    scan), and τ re-enters as a 1-row IdentityBroadcastMode scalar."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "sample_weighted")
    release_caches()
    assert "TakeOrderedAndProject(limit=101" in plan
    assert plan.count("InMemoryTableScan") == 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "IdentityBroadcastMode" in plan
    # the only range exchange is the final ≤100-row output orderBy
    assert plan.count("Exchange rangepartitioning") == 1


def test_dsir_weights_bucket_model_broadcasts(spark):
    """corpus_dsir_weights' bucket-model join must broadcast (the model
    is ≤ DSIR_BUCKETS rows) and its corpus totals must enter as a 1-row
    scalar — a SortMergeJoin or a shuffled model join here means the
    bounded-side statistics regressed into data-scaled shuffles. The
    persisted (doc, bucket) count table serves all three consumers."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "corpus_dsir_weights")
    release_caches()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "IdentityBroadcastMode" in plan
    assert plan.count("InMemoryTableScan") >= 2
    assert "partial_count" in plan  # map-side combine on (doc_id, bucket)


def test_gopher_rules_is_scan_speed(spark):
    """quality_gopher_rules must stay a pure projection: higher-order
    array folds inside one codegen stage, no Python, no join, and no
    exchange except the load round-robin and the output sort."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "quality_gopher_rules")
    release_caches()
    assert "Python" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 2  # round-robin load + output sort
    assert "PushedFilters: [IsNotNull(text)]" in plan


def test_ivfpq_probe_prunes_to_visited_cells_no_python(spark):
    """ann_ivfpq_persisted_probe: the composed index's entire point is
    that the probe reads ONLY the visited cells' compressed codes — the
    visited-cell predicate must land as a PARTITION filter on the
    cell-partitioned code table (directory-level pruning, strictly fewer
    than the 16 cells), the probe plan must contain zero Python nodes
    (the Arrow encode lives in the build phase), and exactly two file
    scans may appear: the pruned code partitions (ADC) + the embedding
    store (exact re-rank)."""
    import glob

    from spark_sentiment_spark.plans.registry import release_caches
    from spark_sentiment_spark.operators.vectors import PQ_K

    plan = _plan(spark, "ann_ivfpq_persisted_probe")
    assert "Python" not in plan            # no re-encode in the probe
    assert "ivfpq_index_" in plan          # ADC scans the persisted codes
    # Round-19 (batch 7): floats served from the entry-point cache — the
    # only direct file scan of the index is the pruned code table; every
    # embeddings FileScan ref in the dump sits under an InMemoryRelation
    # (the cache's stored subtree), i.e. zero per-probe float scans.
    assert "InMemoryTableScan" in plan
    assert sum(1 for seg in plan.split("FileScan parquet")[1:]
               if "ivfpq_index_" in seg[:300]) == 1
    # both embedding FileScan refs are the ONE cache's fill subtree
    # (AQE Final + Initial prints); a third = a leaked per-probe scan
    assert sum(1 for seg in plan.split("FileScan parquet")[1:]
               if "embeddings" in seg[:300]) == 2
    assert plan.count("InMemoryRelation") == 1
    m = re.search(r"ivfpq_index_[^\n]*PartitionFilters: \[cell#\d+ INSET"
                  r" ([\d, ]+)", plan)
    assert m, "visited-cell predicate did not reach the partitioned scan"
    visited = {int(x) for x in m.group(1).split(",") if x.strip()}
    # 5 queries x 3 probe cells dedupe to < K — unvisited cell
    # directories are never listed, let alone read. (The INSET renders
    # before any truncation ellipsis, so the parse sees every cell id.)
    assert 0 < len(visited) < PQ_K, sorted(visited)
    base = next(seg for seg in plan.split("file:")[1:]
                if "ivfpq_index_" in seg).split("/codes", 1)[0] + "/codes"
    on_disk = len(glob.glob(base + "/cell=*"))
    release_caches()
    assert on_disk == PQ_K, f"index staged {on_disk} cell partitions"
    assert plan.count("WindowGroupLimit") >= 2  # rerank + topk both limited


def test_compacted_ivfpq_layout_still_directory_prunes(spark):
    """ann_ivfpq_compacted_probe: compaction must not cost the index its
    reason to exist — the probe over the REWRITTEN code table must still
    carry the visited-cell predicate as a PARTITION filter (directory
    pruning), read from the codes_compact layout (not the fragmented
    original), keep zero Python nodes in the probe plan, and find
    exactly one part file per cell directory after the rewrite."""
    import glob

    from spark_sentiment_spark.plans.registry import release_caches
    from spark_sentiment_spark.operators.vectors import PQ_K

    plan = _plan(spark, "ann_ivfpq_compacted_probe")
    assert "Python" not in plan            # no re-encode in the probe
    assert "codes_compact" in plan         # probes the REWRITTEN layout
    m = re.search(r"codes_compact[^\n]*PartitionFilters: \[cell#\d+ INSET"
                  r" ([\d, ]+)", plan)
    assert m, "visited-cell predicate did not reach the compacted scan"
    visited = {int(x) for x in m.group(1).split(",") if x.strip()}
    assert 0 < len(visited) < PQ_K, sorted(visited)
    base = next(seg for seg in plan.split("file:")[1:]
                if "ivfpq_compact_" in seg).split("/codes", 1)[0]
    per_cell = [len(glob.glob(d + "/*.parquet"))
                for d in glob.glob(base + "/codes_compact/cell=*")]
    release_caches()
    assert per_cell and set(per_cell) == {1}, per_cell


def test_tombstone_probe_broadcast_anti_join_still_prunes(spark):
    """ann_ivfpq_tombstone_probe: logical deletes must stay scan-side
    cheap — the delete set applies as a BROADCAST LeftAnti on the
    already-pruned code scan (never a shuffle of the code table), the
    visited-cell partition filter survives the added join, and the
    probe plan keeps zero Python nodes."""
    from spark_sentiment_spark.plans.registry import release_caches
    from spark_sentiment_spark.operators.vectors import PQ_K

    plan = _plan(spark, "ann_ivfpq_tombstone_probe")
    assert "Python" not in plan
    assert re.search(r"BroadcastHashJoin \[vec_id#\d+L?\], \[vec_id#\d+L?\],"
                     r" LeftAnti", plan), "tombstones not a broadcast anti"
    assert "SortMergeJoin" not in plan
    m = re.search(r"ivfpq_index_[^\n]*PartitionFilters: \[cell#\d+ INSET"
                  r" ([\d, ]+)", plan)
    assert m, "visited-cell predicate lost under the tombstone join"
    visited = {int(x) for x in m.group(1).split(",") if x.strip()}
    release_caches()
    assert 0 < len(visited) < PQ_K, sorted(visited)


def test_refresh_probe_serves_rebuilt_index_pruned_no_python(spark):
    """ann_ivfpq_refresh_probe (triggered on the shipped corpus): the
    probe must serve from the REBUILT artifacts (ivfpq_refreshed_*, the
    survivor-trained quantizers), keep the visited-cell predicate as a
    directory-level partition filter on the rebuilt code table, and
    stay Python-free with no sort-merge join — the same probe-plan
    contract every other index leg pins."""
    from spark_sentiment_spark.plans.registry import release_caches
    from spark_sentiment_spark.operators.vectors import PQ_K

    plan = _plan(spark, "ann_ivfpq_refresh_probe")
    assert "Python" not in plan
    assert "SortMergeJoin" not in plan
    assert "ivfpq_refreshed_" in plan      # the rebuilt index, not the stale
    # the survivor index's 5 queries visit ~10 cells: at <=10 values the
    # predicate renders `IN (a,b,...)`, above that `INSET a, b, ...` —
    # accept both so occupancy shifts don't flake the pin
    m = re.search(r"ivfpq_refreshed_[^\n]*PartitionFilters: \[cell#\d+ "
                  r"(?:INSET ([\d, ]+)|IN \(([\d,]+)\))", plan)
    assert m, "visited-cell predicate did not reach the rebuilt scan"
    visited = {int(x) for x in (m.group(1) or m.group(2)).split(",")
               if x.strip()}
    release_caches()
    assert 0 < len(visited) < PQ_K, sorted(visited)


def test_prepare_training_set_caches_survivors_no_python(spark):
    """prepare_training_set: the curated-survivor frame must be served
    from ONE persisted narrow relation (3 InMemoryTableScan references
    — without the cache every reference re-expands the whole curation
    DAG, measured 15 real documents scans), and the composed plan stays
    Python-free end-to-end."""
    from spark_sentiment_spark.plans.registry import release_caches

    plan = _plan(spark, "prepare_training_set")
    release_caches()
    assert "Python" not in plan
    assert plan.count("InMemoryTableScan") == 3
    assert "BroadcastNestedLoopJoin" not in plan
