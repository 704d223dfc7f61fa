"""Plan-shape regression tests: the physical plans the engine is designed
to produce (broadcast joins for dims, pushed filters, pruned scans, no
Python in native paths) must not silently regress.

Every assertion reads plan nodes and their fields through
``tests/plan_walk.py``. The plans are the ones a query's DataFrame holds
before its action runs: caches a query fills while it is built are
walked as filled, the rest as planned."""

import glob

import pytest

from tests.conftest import SF_DIR
from tests.plan_walk import (agg_functions, analyzed_nodes, broadcast_mode,
                             count, data_filters, exchanges, expressions,
                             has, hash_keys, in_values, joins, named, nodes,
                             partition_filters, pushed_columns,
                             pushed_filters, python_nodes, read_columns,
                             references, scan_paths, scans, scans_of, seq,
                             shuffles, walk)


def _no_python(ns, name=""):
    assert not python_nodes(ns), f"{name} plan runs Python: " \
        f"{[n.name for n in python_nodes(ns)]}"


def _visited_cells(ns, fragment):
    """The cell ids of the visited-cell partition filter on the scan of
    ``fragment``'s code table."""
    (scan,) = scans_of(ns, fragment)
    preds = [f for f in partition_filters(scan)
             if references(f) == ["cell"] and f.nodeName() in ("In", "InSet")]
    assert preds, f"visited-cell predicate did not reach the {fragment} scan"
    return in_values(preds[0])


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier",
                                  "q10_returned_items"])
def test_tpch_joins_broadcast_dims(query, name):
    ns = nodes(query(name))
    assert count(ns, "BroadcastHashJoin")
    assert not count(ns, "SortMergeJoin")  # dims are bounded → BHJ only


def test_q6_pushdown_and_pruning(query, monkeypatch):
    # Production shape (fanout skipped, as on any non-local master): the
    # scan must read exactly q6's 4 columns out of the 16-column lineitem.
    from spark_sentiment_spark.plans import registry

    with monkeypatch.context() as m:
        m.setattr(registry, "_fanout_needed", lambda spark: False)
        (scan,) = scans(nodes(query("q6_forecast_revenue")))
    assert "l_shipdate" in pushed_columns(scan), \
        "shipdate filter not pushed to the parquet scan"
    assert sorted(read_columns(scan)) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]

    # Local-bench shape: the hash-keyed fan-out of registry.load may add
    # ONLY its partition key (l_orderkey) to the scan — pinned so a future
    # edit can't silently widen the read schema further.
    (scan,) = scans(nodes(query("q6_forecast_revenue")))
    extra = set(read_columns(scan)) - {
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_shipdate"}
    assert not extra, f"unexpected scan columns: {extra}"


def test_load_fanout_is_hash_keyed(spark):
    from spark_sentiment_spark.plans.registry import FACT_KEYS, load

    for table, key in sorted(FACT_KEYS.items()):
        ns = nodes(load(spark, SF_DIR, table))
        assert any(hash_keys(n)[:1] == [key]
                   for n in shuffles(ns, "HashPartitioning")), \
            f"{table}: expected hash fan-out on {key}"
        assert not shuffles(ns, "RoundRobinPartitioning"), table


def test_load_fanout_skipped_off_local(spark, monkeypatch):
    from spark_sentiment_spark.plans import registry

    monkeypatch.setattr(registry, "_fanout_needed", lambda spark: False)
    ns = nodes(registry.load(spark, SF_DIR, "lineitem"))
    assert not any("l_orderkey" in hash_keys(n)
                   for n in shuffles(ns, "HashPartitioning"))
    assert not shuffles(ns, "RoundRobinPartitioning")


def test_wordscore_raw_is_pure_jvm(query):
    ns = nodes(query("wordscore_sentiment"))
    assert count(ns, "BroadcastHashJoin")  # lexicon probe is a broadcast join
    _no_python(ns)                          # fully native path


def test_native_text_queries_have_no_python(query):
    for name in ["clean_text", "quality_scores", "langid_stopword",
                 "doc_fingerprints", "dedup_exact"]:
        _no_python(nodes(query(name)), name)


def test_minhash_python_confined_to_signature_stage(query):
    """The mapInPandas signature stage is the ONLY Python in the minhash
    plan (it exists precisely to avoid shuffling the token stream);
    banding, bucket join, and agreement stay JVM-side."""
    ns = nodes(query("dedup_minhash_lsh"))
    # ONE persisted signature stage, walked under each of its four
    # consumer branches (bucket self-join a/b, agreement join am/bm)
    assert count(ns, "MapInPandas") <= 4
    assert {n.name for n in python_nodes(ns)} == {"MapInPandas"}
    assert shuffles(ns)                     # the banding join still shuffles


def test_knn_broadcasts_queries_not_corpus(query):
    ns = nodes(query("knn_cosine_topk"))
    assert count(ns, "BroadcastNestedLoopJoin") or count(ns,
                                                        "BroadcastHashJoin")


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q9_product_profit",
                                  "q16_supplier_variety"])
def test_new_tpch_shapes_broadcast_and_push(query, name):
    ns = nodes(query(name))
    assert count(ns, "BroadcastHashJoin")
    _no_python(ns)


def test_q4_semi_join_physical(query):
    ns = nodes(query("q4_priority_exists"))
    assert joins(ns, "LeftSemi")
    assert any("o_orderdate" in pushed_columns(s) for s in scans(ns)), \
        "orderdate filter not pushed to the orders scan"


def test_tfidf_topk_native_with_broadcasts(query):
    ns = nodes(query("text_tfidf_topk"))
    _no_python(ns)                          # explode/agg/window all JVM-side
    assert count(ns, "BroadcastHashJoin")   # df side broadcasts
    assert count(ns, "Window")


def test_gap_fill_single_window_shuffle(query):
    ns = nodes(query("events_gap_fill"))
    _no_python(ns)
    windows = named(ns, "Window")
    assert len(windows) >= 1
    # forward-fill must be a running frame, not a re-sort per row
    assert any(e.nodeName().startswith("UnboundedPreceding")
               for w in windows for e in expressions(w))


def test_decontaminate_broadcasts_benchmark_side(query):
    ns = nodes(query("decontaminate_ngram"))
    _no_python(ns)                          # n-grams are native transform/slice
    assert count(ns, "BroadcastHashJoin")   # benchmark grams broadcast
    assert not count(ns, "SortMergeJoin")


def test_quality_repetition_is_native_single_agg(query):
    ns = nodes(query("quality_repetition"))
    _no_python(ns)
    # countDistinct expands to a two-phase agg on (doc_id, g) then doc_id;
    # both must be partial+final hash aggs, no sort-based fallback
    assert count(ns, "HashAggregate")
    assert not count(ns, "SortAggregate")


def test_ann_lsh_python_confined_to_signature_stage(query):
    """The pandas-UDF matmul is the ONLY Python in the LSH plan: the
    bucket self-join, dedup, and re-rank must stay JVM-side."""
    ns = nodes(query("ann_lsh_topk"))
    # the persisted signature stage is walked once under each self-join
    # branch of the pre-materialization plan — 2 nodes, 1 evaluation
    assert count(ns, "ArrowEvalPython") <= 2
    assert not count(ns, "BatchEvalPython")  # no row-at-a-time Python
    assert (count(ns, "BroadcastHashJoin") or count(ns, "ShuffledHashJoin")
            or count(ns, "SortMergeJoin"))   # re-rank joins are JVM joins


def test_pipeline_queries_native_and_bounded_shuffles(query):
    """The pipeline-prep family is pure JVM and stays within its exchange
    budget: packing/cap shuffle once on the shard key (+ the width
    normalizer + output sort), split/mixture are narrow projections."""
    budgets = {"pack_sequences": 3, "cap_per_source": 3,
               "split_by_hash": 2, "mixture_sample": 2,
               "dedup_prefix": 3, "vocab_coverage": 6}
    for name, budget in budgets.items():
        ns = nodes(query(name))
        _no_python(ns, name)
        n = len(exchanges(ns))
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_dedup_incremental_anti_join_no_python(query):
    ns = nodes(query("dedup_incremental"))
    _no_python(ns)
    assert joins(ns, "LeftAnti"), "corpus-index dedup must be an anti-join"


def test_perplexity_native_cached_token_table(query):
    """Train+score in one plan: no Python anywhere, the corpus-scalar
    total is a broadcast, and the exploded token table is read from cache
    (tokenized once) on every consumer."""
    ns = nodes(query("quality_perplexity"))
    _no_python(ns)
    assert count(ns, "BroadcastNestedLoopJoin")    # 1-row corpus total
    assert count(ns, "InMemoryTableScan") >= 2     # vocab side + score side


def test_hybrid_rrf_broadcasts_queries_and_caches_index(query):
    """Vector side broadcasts the 3 query vectors; lexical side reads the
    persisted inverted index; fusion never touches Python."""
    ns = nodes(query("hybrid_search_rrf"))
    _no_python(ns)
    assert count(ns, "BroadcastNestedLoopJoin")    # 3-query crossJoin
    assert count(ns, "InMemoryTableScan") >= 3     # sizes + qside + corpus


def test_corpus_stats_queries_native_no_smj(query):
    """The corpus-stats family: fully JVM-side, no sort-merge joins
    (every join side here is genuinely bounded — vocab/label-sized count
    tables or 1-row corpus scalars → broadcast), no cartesian blowup."""
    for name in ["corpus_token_entropy", "mixture_temperature",
                 "token_pmi_bigrams", "embedding_norm_stats",
                 "events_session_sequences"]:
        ns = nodes(query(name))
        _no_python(ns, name)
        assert not count(ns, "SortMergeJoin"), f"{name} shuffled a bounded side"
        assert not count(ns, "CartesianProduct"), f"{name} has a cartesian"


def test_contrastive_pairs_native_no_cartesian(query):
    """contrastive_pairs' negative join puts the corpus-sized ranked
    table on BOTH sides (rank-matched lookup) — at bench SF the planner
    broadcasts it, at scale a shuffle join on (label, rank) is the
    correct LINEAR plan, so no-SMJ is deliberately NOT asserted here.
    What must hold at any scale: no Python, no cartesian product."""
    ns = nodes(query("contrastive_pairs"))
    _no_python(ns)
    assert not count(ns, "CartesianProduct")


def test_aggregated_self_joins_native_no_cartesian(query):
    """preference_pairs / source_overlap / drift_psi / shard_balance:
    JVM-native end-to-end; the self-joins run on (source|hash, rank)
    keys after aggregation, never as cartesian products."""
    for name in ["preference_pairs", "source_overlap", "drift_psi",
                 "shard_balance"]:
        ns = nodes(query(name))
        _no_python(ns, name)
        assert not count(ns, "CartesianProduct"), f"{name} has a cartesian"


def test_pmi_broadcasts_unigram_probes(query):
    """At test SF the size estimator broadcasts both unigram probes (no
    explicit hint: a web-scale whitespace vocabulary is not
    broadcast-safe, so strategy is left to estimates + AQE, which
    correctly flips to a shuffle join past the threshold). The 1-row
    corpus scalars stay broadcast at any scale."""
    ns = nodes(query("token_pmi_bigrams"))
    assert count(ns, "BroadcastHashJoin") >= 2
    assert count(ns, "BroadcastNestedLoopJoin") == 2  # 1-row scalars


def test_pii_redaction_is_pure_mapside_jvm(query):
    """pii_redaction is scan → concat → native regexp chain: no Python,
    no join of any kind, and the only exchange is the output sort."""
    ns = nodes(query("pii_redaction"))
    _no_python(ns)
    assert not joins(ns)
    assert len(exchanges(ns)) <= 2  # rangepartition + sort for orderBy


def test_dedup_semantic_native_no_cartesian(query):
    """dedup_semantic (IVF-seeded form): JVM-native end-to-end — the
    centroid assignment is a broadcast-k cross join (BNLJ over the
    bounded centroid table, never a CartesianProduct), and the pair
    search joins on the cell key."""
    ns = nodes(query("dedup_semantic"))
    _no_python(ns)
    assert not count(ns, "CartesianProduct")
    assert count(ns, "BroadcastNestedLoopJoin")  # the bounded centroid probe


@pytest.mark.parametrize("name", [
    "dedup_simjoin_prefix", "dedup_containment_prefix",
    "langid_char_ngram", "vocab_growth_curve",
    "quantile_histogram_sketch", "skew_profile",
    "agg_hll_sketch", "token_cms_topk", "zorder_layout",
    "join_skew_salted", "events_rollup_incremental", "events_cdc_state",
])
def test_hash_and_sketch_queries_are_pure_jvm(query, name):
    """Prefix joins, sketches, layouts and incremental event state are
    fully native plans — md5 polynomials, bit interleaves and sketch folds
    included. A Python operator appearing here means an expression fell
    off the JVM path."""
    _no_python(nodes(query(name)), name)


def test_phash_python_confined_to_decode(query):
    """multimodal_phash_dedup's only Python is the Arrow-batched raster
    decode (by design); banding, candidate join and hamming verify must
    all be JVM expressions — so the plan has MapInPandas and nothing
    else Pythonic."""
    ns = nodes(query("multimodal_phash_dedup"))
    assert count(ns, "MapInPandas")
    assert {n.name for n in python_nodes(ns)} == {"MapInPandas"}


# --- Streaming stages: no Python, bounded state ----------------------------
# The streaming STAGE is inspected pre-run (analyzed logical plan of the
# unstarted stream), the batch fold post-hoc — together they pin
# watermarked state, no Python operators anywhere, and sketch state
# bounded by the register count.


def test_streaming_conversions_stream_stage_shape(spark):
    """Stream-stream interval join: BOTH sides watermarked (state expires
    once the watermark passes signup.ts + horizon) and the join is a
    single inner join — no Python anywhere in the streaming stage."""
    from spark_sentiment_spark.streaming.streams import (
        read_event_stream, stream_stream_conversions)

    lp = analyzed_nodes(
        stream_stream_conversions(read_event_stream(spark, SF_DIR)))
    assert count(lp, "EventTimeWatermark") == 2
    assert len(joins(lp, "Inner")) == 1
    _no_python(lp)


def test_streaming_dedup_stream_stage_shape(spark):
    """Watermarked ingest dedup: the deduplicate operator is the
    WithinWatermark variant (state is O(events per watermark window),
    not O(all keys ever)) sitting above an event-time watermark."""
    from spark_sentiment_spark.streaming.streams import (
        dedup_stream, read_event_stream)

    ev = read_event_stream(spark, SF_DIR)
    lp = analyzed_nodes(
        dedup_stream(ev.unionByName(read_event_stream(spark, SF_DIR))))
    assert count(lp, "DeduplicateWithinWatermark")
    assert count(lp, "EventTimeWatermark")
    _no_python(lp)


def test_streaming_hll_state_bounded_and_jvm(spark, query, run):
    """streaming_hll_distinct keeps ONE row of streaming state per HLL
    register — the memory sink can never exceed 256 rows regardless of
    stream length — and the batch fold over the sink is pure JVM with
    the 1-row exact twin broadcast."""
    from spark_sentiment_spark.operators.sketch import HLL_M

    ns = nodes(query("streaming_hll_distinct"))
    _no_python(ns)
    assert count(ns, "BroadcastNestedLoopJoin")  # 1-row exact twin broadcast
    # the sink table (the one temp table the query's run holds) is the
    # bucket-maxima state: bounded by the register count
    [sink] = [x[1] for kind, x in run if kind == "table"]
    sink_rows = spark.table(sink).count()
    assert sink_rows <= HLL_M


def test_dedup_search_and_event_queries_have_no_python(query):
    """Exact and TF-IDF dedup, BM25 search, kNN, SCD2 and the event
    window queries are pure JVM: no Python operators anywhere in the
    plan (the multiprobe signature matmul, pinned below, is the one
    documented exception of its family)."""
    for name in ["dedup_span_excise", "dedup_sentence_exact",
                 "dedup_tfidf_cosine", "search_bm25", "knn_classify",
                 "embedding_outliers", "events_scd2_history",
                 "events_peak_concurrency", "agg_mad_by_group",
                 "events_cumulative_users", "events_type_affinity",
                 "token_zipf_fit", "events_sliding_users_hll",
                 "events_temporal_join"]:
        _no_python(nodes(query(name)), name)


def test_multiprobe_python_confined_to_signature_stage(query):
    """dedup_embedding_multiprobe's only Python is the Arrow-batched
    BLAS signature matmul (the module's documented exception); the
    bucket join, pair dedup and cosine re-rank stay JVM-side."""
    ns = nodes(query("dedup_embedding_multiprobe"))
    assert not count(ns, "BatchEvalPython")
    assert count(ns, "ArrowEvalPython") <= 2  # probe/home branches of sigs


def test_bm25_broadcasts_queries_and_scalar_only(query):
    """search_bm25: the query-term list and the (N, avgdl) scalar
    broadcast; the posting lists meet them in hash joins — the corpus is
    never on a broadcast side."""
    assert not count(nodes(query("search_bm25")), "SortMergeJoin")


def test_join_bucketed_colocated(query):
    """join_bucketed: both sides of the SortMergeJoin read pre-bucketed
    tables, so NO Exchange feeds the join — the only shuffles in the
    whole plan are the final agg + output sort, both ABOVE the join in
    the tree. The scans must actually use the bucketing (a bucketed
    scan), not fall back to a plain file scan."""
    ns = nodes(query("join_bucketed"))
    (smj,) = named(ns, "SortMergeJoin")
    assert sum(1 for s in scans(ns) if s.jvm.bucketedScan()) == 2
    # the co-location claim is "no shuffle below the join"
    assert not exchanges(list(walk(smj.jvm)))
    # Above the join only the final agg + output sort may shuffle. An
    # upper bound, not an exact count: exact counts are brittle across
    # Spark versions even when co-location still holds.
    assert len(exchanges(ns)) <= 2


def test_io_schema_evolution_merged_read(query):
    """io_schema_evolution: the merged scan reads BOTH partition subdirs
    of the evolved table (partition discovery), and the whole aggregate
    is native JVM."""
    ns = nodes(query("io_schema_evolution"))
    _no_python(ns)
    assert len(scans(ns)) == 1


def test_link_parts_fuzzy_blocked_not_cartesian(query):
    """link_parts_fuzzy: the brand blocking key must carry the join as
    an equi-join (hash join, levenshtein as residual predicate) — never
    a cartesian/BNLJ over all part pairs — and the whole pipeline stays
    JVM-native."""
    ns = nodes(query("link_parts_fuzzy"))
    _no_python(ns)
    assert not count(ns, "CartesianProduct")
    assert not count(ns, "BroadcastNestedLoopJoin")
    assert (count(ns, "BroadcastHashJoin") or count(ns, "ShuffledHashJoin")
            or count(ns, "SortMergeJoin"))


def test_token_burstiness_two_agg_topk(query):
    """token_burstiness: explode → (term, doc) agg → term agg → global
    top-k as TakeOrdered; no window, no join, no Python."""
    ns = nodes(query("token_burstiness"))
    _no_python(ns)
    assert not joins(ns)
    assert not has(ns, "Window")
    assert count(ns, "TakeOrderedAndProject")


def test_minhash_bucketed_probe_no_bkey_shuffle(query):
    """dedup_minhash_bucketed_probe: the band-index probe join consumes
    two same-bucketed tables, so Catalyst never inserts a hash Exchange
    on the probe key — the corpus index side is read co-located, which
    is the whole claim of the bucketed layout. Later signature joins
    may shuffle on doc ids; the probe key must not."""
    ns = nodes(query("dedup_minhash_bucketed_probe"))
    assert count(ns, "SortMergeJoin")
    assert sum(1 for s in scans(ns) if s.jvm.bucketedScan()) >= 2
    assert not any("bkey" in hash_keys(n)
                   for n in shuffles(ns, "HashPartitioning"))


def _take_ordered(ns, limit):
    return [n for n in named(ns, "TakeOrderedAndProject")
            if n.jvm.limit() == limit]


def test_sample_dsir_topk_never_global_sorts(query):
    """sample_dsir's corpus-wide Gumbel-top-k must stay inside
    TakeOrderedAndProject (per-partition heaps, k rows to the driver
    merge) — a full range-sort of the scored corpus before the limit is
    the regression the materialized resample exists to avoid. The final
    row_number and output orderBy run over the ≤100-row result only."""
    ns = nodes(query("sample_dsir"))
    assert _take_ordered(ns, 100)
    # no corpus-wide range sort anywhere; the single SinglePartition
    # exchange feeds the rn window over the ≤100-row TakeOrdered result
    assert not shuffles(ns, "RangePartitioning")
    assert len(shuffles(ns, "SinglePartition")) == 1


def test_partitioned_prune_filter_in_partition_filters(query):
    """io_partitioned_prune: the day predicate is satisfied ENTIRELY by
    partition-directory pruning — it lands in the scan's
    PartitionFilters and leaves DataFilters empty, so non-matching day
    directories are never opened."""
    ns = nodes(query("io_partitioned_prune"))
    scan = next(s for s in scans(ns)
                if any("day" in references(f) for f in partition_filters(s)))
    assert data_filters(scan) == []
    pf = " ".join(f.sql() for f in partition_filters(scan))
    assert "2024-01-05" in pf and "2024-01-12" in pf


def _partial_count(ns):
    return any(("Partial", "count") in agg_functions(n)
               for n in named(ns, "HashAggregate"))


def test_winnowing_single_doc_shuffle(query):
    """doc_winnowing is doc-local by design: ONE hash exchange on
    doc_id serves the lag/lead window, the per-doc count window, AND
    the partial+final aggregate (same key, no re-shuffle); no join
    appears anywhere. The only other exchanges are the load()
    round-robin and the output orderBy's range sort."""
    ns = nodes(query("doc_winnowing"))
    assert not joins(ns)
    assert sum(1 for n in shuffles(ns, "HashPartitioning")
               if hash_keys(n)[:1] == ["doc_id"]) == 1
    assert _partial_count(ns)  # map-side combine before the final agg


def test_stickiness_hll_no_user_rank_machinery(query):
    """events_stickiness_hll exists to remove every user-scaled term
    from the MAU path: the plan must contain NO Window operator (no
    rank/rolling-distinct state) and NO SortMergeJoin — the trailing-28
    merge is exactly one BroadcastNestedLoopJoin whose BROADCAST side is
    the bounded days grid (the partial table side streams), and the
    final per-day assembly is broadcast hash joins over |days| rows."""
    ns = nodes(query("events_stickiness_hll"))
    assert not has(ns, "Window")
    assert not count(ns, "SortMergeJoin")
    (bnlj,) = named(ns, "BroadcastNestedLoopJoin")
    assert bnlj.jvm.buildSide().toString() == "BuildLeft"
    assert "28" in bnlj.jvm.condition().get().sql()
    assert count(ns, "BroadcastHashJoin")


def test_rfm_cutpoints_no_user_rank_no_cartesian(query):
    """events_rfm_cutpoints' only windows are the three cum-count passes
    over per-axis FREQUENCY tables (bounded by distinct values, never
    users); the target/cut joins are tiny broadcasts — a cartesian
    product or sort-merge join appearing here means the broadcast
    scalars regressed into real shuffled joins."""
    ns = nodes(query("events_rfm_cutpoints"))
    assert not count(ns, "CartesianProduct")
    assert not count(ns, "SortMergeJoin")
    assert count(ns, "Window") == 3


def test_sample_weighted_topk_never_global_sorts(query):
    """sample_weighted's corpus-wide ordering must stay inside
    TakeOrderedAndProject (per-partition heaps merged at k+1 rows) — a
    full range-sort of the corpus appearing before the limit is the
    regression this query exists to avoid. The persisted ≤101-row top
    set serves BOTH the output branch and the τ branch (one corpus
    scan), and τ re-enters as a 1-row IdentityBroadcastMode scalar."""
    ns = nodes(query("sample_weighted"))
    assert _take_ordered(ns, 101)
    assert count(ns, "InMemoryTableScan") == 2
    assert count(ns, "BroadcastNestedLoopJoin")
    assert "IdentityBroadcastMode" in {
        broadcast_mode(n) for n in named(ns, "BroadcastExchange")}
    # the only range exchange is the final ≤100-row output orderBy
    assert len(shuffles(ns, "RangePartitioning")) == 1


def test_dsir_weights_bucket_model_broadcasts(query):
    """corpus_dsir_weights' bucket-model join must broadcast (the model
    is ≤ DSIR_BUCKETS rows) and its corpus totals must enter as a 1-row
    scalar — a SortMergeJoin or a shuffled model join here means the
    bounded-side statistics regressed into data-scaled shuffles. The
    persisted (doc, bucket) count table serves all three consumers."""
    ns = nodes(query("corpus_dsir_weights"))
    assert not count(ns, "SortMergeJoin")
    assert count(ns, "BroadcastHashJoin")
    assert "IdentityBroadcastMode" in {
        broadcast_mode(n) for n in named(ns, "BroadcastExchange")}
    assert count(ns, "InMemoryTableScan") >= 2
    assert _partial_count(ns)  # map-side combine on (doc_id, bucket)


def test_gopher_rules_is_scan_speed(query):
    """quality_gopher_rules must stay a pure projection: higher-order
    array folds inside one codegen stage, no Python, no join, and no
    exchange except the load round-robin and the output sort."""
    ns = nodes(query("quality_gopher_rules"))
    _no_python(ns)
    assert not joins(ns)
    assert len(exchanges(ns)) == 2  # round-robin load + output sort
    assert any([(f.getClass().getSimpleName(), list(f.references()))
                for f in pushed_filters(s)] == [("IsNotNull", ["text"])]
               for s in scans(ns))


def test_ivfpq_probe_prunes_to_visited_cells_no_python(query):
    """ann_ivfpq_persisted_probe: the composed index's entire point is
    that the probe reads ONLY the visited cells' compressed codes — the
    visited-cell predicate must land as a PARTITION filter on the
    cell-partitioned code table (directory-level pruning, strictly fewer
    than the 16 cells), the probe plan must contain zero Python nodes
    (the Arrow encode lives in the build phase), and exactly two file
    scans may appear: the pruned code partitions (ADC) + the embedding
    store (exact re-rank)."""
    from spark_sentiment_spark.operators.vectors import PQ_K

    ns = nodes(query("ann_ivfpq_persisted_probe"))
    _no_python(ns)                          # no re-encode in the probe
    # floats are served from the entry-point cache: the only direct file
    # scan of the index is the pruned code table, and the one embeddings
    # scan sits under the cache's InMemoryRelation (its fill subtree),
    # i.e. zero per-probe float scans.
    assert count(ns, "InMemoryTableScan")
    (rel,) = named(ns, "InMemoryRelation")
    assert len(scans_of(ns, "ivfpq_index_")) == 1  # ADC scans the codes
    assert len(scans_of(ns, "embeddings")) == 1
    assert len(scans_of(list(walk(rel.jvm)), "embeddings")) == 1
    visited = _visited_cells(ns, "ivfpq_index_")
    # 5 queries x 3 probe cells dedupe to < K — unvisited cell
    # directories are never listed, let alone read.
    assert 0 < len(visited) < PQ_K, sorted(visited)
    (path,) = scan_paths(scans_of(ns, "ivfpq_index_")[0])
    base = path.split("/codes", 1)[0].removeprefix("file:") + "/codes"
    on_disk = len(glob.glob(base + "/cell=*"))
    assert on_disk == PQ_K, f"index staged {on_disk} cell partitions"
    assert count(ns, "WindowGroupLimit") >= 2  # rerank + topk both limited


def test_compacted_ivfpq_layout_still_directory_prunes(query):
    """ann_ivfpq_compacted_probe: compaction must not cost the index its
    reason to exist — the probe over the REWRITTEN code table must still
    carry the visited-cell predicate as a PARTITION filter (directory
    pruning), read from the codes_compact layout (not the fragmented
    original), keep zero Python nodes in the probe plan, and find
    exactly one part file per cell directory after the rewrite."""
    from spark_sentiment_spark.operators.vectors import PQ_K

    ns = nodes(query("ann_ivfpq_compacted_probe"))
    _no_python(ns)                          # no re-encode in the probe
    visited = _visited_cells(ns, "codes_compact")  # the REWRITTEN layout
    assert 0 < len(visited) < PQ_K, sorted(visited)
    (path,) = scan_paths(scans_of(ns, "codes_compact")[0])
    base = path.split("/codes", 1)[0].removeprefix("file:")
    assert "ivfpq_compact_" in base
    per_cell = [len(glob.glob(d + "/*.parquet"))
                for d in glob.glob(base + "/codes_compact/cell=*")]
    assert per_cell and set(per_cell) == {1}, per_cell


def test_tombstone_probe_broadcast_anti_join_still_prunes(query):
    """ann_ivfpq_tombstone_probe: logical deletes must stay scan-side
    cheap — the delete set applies as a BROADCAST LeftAnti on the
    already-pruned code scan (never a shuffle of the code table), the
    visited-cell partition filter survives the added join, and the
    probe plan keeps zero Python nodes."""
    from spark_sentiment_spark.operators.vectors import PQ_K

    ns = nodes(query("ann_ivfpq_tombstone_probe"))
    _no_python(ns)
    assert any(n.name == "BroadcastHashJoin"
               and [references(k) for k in seq(n.jvm.leftKeys())]
               == [["vec_id"]]
               and [references(k) for k in seq(n.jvm.rightKeys())]
               == [["vec_id"]]
               for n in joins(ns, "LeftAnti")), "tombstones not a broadcast anti"
    assert not count(ns, "SortMergeJoin")
    visited = _visited_cells(ns, "ivfpq_index_")
    assert 0 < len(visited) < PQ_K, sorted(visited)


def test_refresh_probe_serves_rebuilt_index_pruned_no_python(query):
    """ann_ivfpq_refresh_probe (triggered on the shipped corpus): the
    probe must serve from the REBUILT artifacts (ivfpq_refreshed_*, the
    survivor-trained quantizers), keep the visited-cell predicate as a
    directory-level partition filter on the rebuilt code table, and
    stay Python-free with no sort-merge join — the same probe-plan
    contract every other index leg pins."""
    from spark_sentiment_spark.operators.vectors import PQ_K

    ns = nodes(query("ann_ivfpq_refresh_probe"))
    _no_python(ns)
    assert not count(ns, "SortMergeJoin")
    # the rebuilt index, not the stale one; its 5 queries visit ~10 cells,
    # as an IN or an INSET predicate depending on the count
    visited = _visited_cells(ns, "ivfpq_refreshed_")
    assert 0 < len(visited) < PQ_K, sorted(visited)


def test_prepare_training_set_caches_survivors_no_python(query):
    """prepare_training_set: the curated-survivor frame must be served
    from ONE persisted narrow relation (3 InMemoryTableScan references
    — without the cache every reference re-expands the whole curation
    DAG, measured 15 real documents scans), and the composed plan stays
    Python-free end-to-end."""
    ns = nodes(query("prepare_training_set"))
    _no_python(ns)
    assert count(ns, "InMemoryTableScan") == 3
    assert not count(ns, "BroadcastNestedLoopJoin")
