"""connected_components: fixpoint correctness on hand-built graphs."""

from spark_sentiment_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["s", "d"])
    rows = connected_components(df, "s", "d").collect()
    return {r["node"]: r["comp"] for r in rows}


def test_chain_triangle_and_pair(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    got = _cc(spark, [(1, 2), (2, 3), (3, 4),
                      (10, 11), (11, 12), (10, 12),
                      (20, 21)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_direction_and_duplicates_irrelevant(spark):
    # reversed edges, self-loop, duplicate edges — same components
    got = _cc(spark, [(5, 3), (3, 5), (5, 5), (7, 5), (7, 5)])
    assert got == {3: 3, 5: 3, 7: 3}


def test_long_chain_converges(spark):
    n = 12  # diameter 11 — exercises many propagation rounds
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0}


def test_adversarial_chain_logarithmic_rounds(spark):
    """A 512-node path is the worst case for pure min-label propagation
    (512 rounds — silently truncated by max_iter=50 into WRONG labels).
    Pointer jumping must (a) produce the correct single component and
    (b) converge in O(log n) rounds, well under the max_iter guard."""
    import math

    n = 512
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                               ["s", "d"])
    labels, rounds = connected_components(df, "s", "d",
                                          return_rounds=True)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert set(got.values()) == {0}
    assert len(got) == n
    assert rounds <= 2 * int(math.log2(n)) + 4, rounds


def test_cluster_canonical_quality_overrides_crawl_order(spark, query):
    """dedup_cluster_canonical must (a) cover the whole non-null corpus
    exactly once per component, and (b) actually exercise keep-best: at
    the sf0.001 fixture some multi-member component's longest doc is NOT
    its min-doc_id member (10 such components in DuckDB), so keep-first
    would pick a different survivor."""
    from tests.conftest import SF_DIR
    from spark_sentiment_spark.plans.registry import load

    rows = query("dedup_cluster_canonical").collect()
    n_docs = (load(spark, SF_DIR, "documents")
              .where("text IS NOT NULL").count())
    assert sum(r.n_members for r in rows) == n_docs
    assert len({r.component for r in rows}) == len(rows)

    multi = [r for r in rows if r.n_members > 1]
    assert multi, "fixture lost its duplicate components"
    assert any(r.canonical_doc != r.component for r in multi), \
        "keep-best never diverged from keep-first — vacuous fixture"


def test_dedup_clusters_exact_dup_collapse_membership(spark, query, tmp_path):
    """The exact-duplicate collapse in dedup_clusters must keep
    the ORIGINAL membership/label semantics on every edge case: exact-dup
    groups with no outside partner (component = group min), a near-dup
    reaching a group only through its representative, singletons whose
    only partner is a group member, isolated docs (absent), and null
    texts (absent). Hand-built corpus, labels hand-derived."""

    ta = " ".join(f"a{i}" for i in range(40))
    tb = " ".join(f"b{i}" for i in range(80))
    tb_near = " ".join(f"b{i}" for i in range(79)) + " zz"  # j=77/79≈0.975
    tc = " ".join(f"c{i}" for i in range(80))
    tc_near = " ".join(f"c{i}" for i in range(79)) + " yy"
    rows = [
        (1, ta), (2, ta), (3, ta),          # exact trio, no outside partner
        (10, tb), (11, tb), (12, tb_near),  # exact pair + near-dup
        (20, " ".join(f"d{i}" for i in range(40))),  # isolated
        (21, tc), (22, tc), (30, tc_near),  # near-dup reaches group via rep
        (40, None),                         # null text
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r["component"]
           for r in query("dedup_clusters", sf).collect()}
    assert got == {1: 1, 2: 1, 3: 1,
                   10: 10, 11: 10, 12: 10,
                   21: 21, 22: 21, 30: 21}


def test_components_round_accounting_and_convergence(spark):
    """The loop carries an `ocomp` column through the pointer jump
    instead of a per-round changed-count join, and checkpoints `prop`
    once per round to feed both jump sides. On a graph that settles in
    one propagation the loop must take EXACTLY 2 rounds (one change
    round + the zero-change round that fires the filter-based
    convergence check), with correct labels."""
    df = spark.createDataFrame([(20, 21), (30, 31)], ["s", "d"])
    labels, rounds = connected_components(df, "s", "d",
                                          return_rounds=True)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {20: 20, 21: 20, 30: 30, 31: 30}
    assert rounds == 2, rounds
    # the returned frame must not leak the internal ocomp column
    assert labels.columns == ["node", "comp"]
