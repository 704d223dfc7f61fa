"""Focused pins for iterative-loop restructures — each test locks the
EQUIVALENCE the restructure relies on, so a future edit that breaks the
restructured plan's semantics fails here, not at the oracle.

Covered:
  * token_pagerank: the per-iteration nodes-LEFT-JOIN re-attachment was
    dropped (the symmetrized graph has {src} = {dst}, so the contribution
    aggregation's key set IS the node set) and the edge frame is cached
    hash-partitioned on src — ranks must stay bit-identical to an
    independent integer fixed-point implementation of the ORIGINAL
    left-join recurrence.
"""

import pytest
from pyspark.sql import functions as F


def test_pagerank_matches_leftjoin_recurrence(spark, tmp_path):
    """Run token_pagerank over a constructed corpus and compare every
    (token, w_out, rank_fp) against a pure-Python replay of the ORIGINAL
    recurrence — nodes LEFT JOIN contributions with coalesce(s, 0) —
    which the restructured loop claims is equivalent because the
    symmetrized edge set gives every node an in-edge. The corpus includes
    a single-token document (no bigrams: its token must NOT be a node)
    and repeated bigrams across documents (summed edge weights)."""
    from spark_sentiment_spark.plans.corpus_queries import (PAGERANK_SCALE,
                                                            token_pagerank)
    from spark_sentiment_spark.plans.registry import release_caches

    rows = [
        (0, "alpha beta gamma alpha beta"),
        (1, "beta gamma delta"),
        (2, "alpha beta alpha beta alpha"),
        (3, "epsilon"),                       # 1 token -> no bigram
        (4, "delta epsilon delta epsilon"),
        (5, "  gamma   alpha  "),             # irregular whitespace
    ]
    docs_dir = str(tmp_path / "pr")
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.parquet(f"{docs_dir}/documents.parquet")

    got = {r["token"]: (r["w_out"], r["rank_fp"])
           for r in token_pagerank(spark, docs_dir).collect()}
    release_caches()

    # independent replay: original left-join recurrence, pure ints
    from collections import Counter
    bigrams = Counter()
    for _, text in rows:
        toks = text.strip().split()
        for a, b in zip(toks, toks[1:]):
            bigrams[(a, b)] += 1
    edges = Counter()
    for (a, b), c in bigrams.items():
        edges[(a, b)] += c
        edges[(b, a)] += c
    wout = Counter()
    for (s, _), w in edges.items():
        wout[s] += w
    nodes = sorted({s for s, _ in edges})
    assert set(nodes) == {d for _, d in edges}   # the symmetry the
    #                                              restructure relies on
    assert "epsilon" in nodes and len(nodes) == 5

    base = (15 * PAGERANK_SCALE) // 100
    r = {v: PAGERANK_SCALE for v in nodes}
    for _ in range(10):
        s = Counter()
        for (src, dst), w in edges.items():
            s[dst] += r[src] * w // wout[src]
        # ORIGINAL shape: every node, contributions coalesced to 0
        r = {v: base + 85 * s.get(v, 0) // 100 for v in nodes}
    expect = {v: (wout[v], r[v]) for v in nodes}
    assert got == expect


def test_components_round_accounting_and_convergence(spark):
    """The connected_components loop restructure: the per-round
    changed-count join was replaced by an `ocomp` column carried through
    the pointer jump, and
    `prop` is checkpointed once per round to feed both jump sides. The
    recurrence is untouched, so on a graph that settles in one
    propagation the loop must still take EXACTLY 2 rounds (one change
    round + the zero-change round that fires the new filter-based
    convergence check), with correct labels."""
    from spark_sentiment_spark.operators.components import (
        connected_components)

    df = spark.createDataFrame([(20, 21), (30, 31)], ["s", "d"])
    labels, rounds = connected_components(df, "s", "d",
                                          return_rounds=True)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {20: 20, 21: 20, 30: 30, 31: 30}
    assert rounds == 2, rounds
    # the returned frame must not leak the internal ocomp column
    assert labels.columns == ["node", "comp"]
