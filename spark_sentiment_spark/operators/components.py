"""Connected components over an edge DataFrame — the iterative-algorithm
operator family (SURVEY §7.4 extension; the reference has no iterative
operator at all).

The motivating pipeline: near-duplicate PAIRS (``dedup_jaccard_pairs``,
``dedup_minhash_lsh``) are only half of dedup — keeping one copy per
duplicate *group* requires the transitive closure of the pair graph.
That closure is a fixpoint computation no single SQL statement expresses
in Spark, so it runs as min-label propagation driven from the driver,
with per-round POINTER JUMPING (path compression):

  propagate: label(n) := min(label(n), min over neighbors m of label(m))
  jump:      label(n) := label(label(n))

The jump step is the Shiloach-Vishkin (1982) shortcut also at the heart
of the large-star/small-star MapReduce formulation (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): propagation
alone needs diameter rounds (an adversarial N-node chain = N rounds,
silently truncated by ``MAX_ROUNDS``), while propagate+jump doubles the
compressed distance per round — measured on chains: 12 rounds for 4k
nodes; tests/test_components.py pins the ~log growth in rounds.

Scale posture:

* Each round is two shuffle-partitionable joins + a hash aggregation on
  node ids — no collect of nodes or edges; the driver sees only the
  per-round changed-count (control plane, O(1) per round).
* The jump join keys on current labels, which concentrate toward
  component roots as convergence proceeds — on corpora with one giant
  component this is the classic skew hot-key; AQE skew-join splitting
  handles it (enabled in session defaults).
* ``localCheckpoint(eager=True)`` truncates lineage every round;
  without it the plan doubles per iteration and Catalyst analysis time
  explodes by round ~10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Safety bound on propagate+jump rounds; pointer jumping converges in
#: ~log(diameter) rounds, far below it.
MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame, src: str, dst: str, return_rounds: bool = False,
):
    """Return ``(node, component)`` for every node appearing in ``edges``,
    where ``component`` is the smallest node id in its connected component
    (deterministic). Undirected: each edge is symmetrized. With
    ``return_rounds=True`` returns ``(labels, rounds)`` — the round count
    the scale probe records."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # Every round joins ``e`` on s, and distinct() leaves it clustered on
    # (s, d): cached hash-partitioned on s, the edges shuffle once, at
    # fill time, instead of once a round.
    p = e.sparkSession.sparkContext.defaultParallelism
    e = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct().repartition(p, "s").persist()

    labels = (
        e.select(F.col("s").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(MAX_ROUNDS):
        rounds += 1
        neigh = (
            e.join(labels, e["s"] == labels["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("comp").alias("ncomp"))
        )
        # ``prop`` feeds both sides of the jump join and Catalyst shares
        # no subtree across branches: the eager checkpoint runs the
        # e⋈labels join once a round, not twice. ``ocomp`` rides along so
        # the convergence check is a filter, not a third join.
        prop = (
            labels.alias("o")
            .join(neigh.alias("n"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("o.comp"),
                    F.coalesce(F.col("n.ncomp"), F.col("o.comp")),
                ).alias("comp"),
                F.col("o.comp").alias("ocomp"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jump: comp <- comp(comp). Every comp value is itself a
        # node id (labels start as node and only ever take other labels'
        # values via min), so the lookup always hits.
        parents = prop.select(F.col("node").alias("comp"),
                              F.col("comp").alias("pcomp"))
        new_full = (
            prop.join(parents, "comp", "left")
            .select("node",
                    F.coalesce(F.col("pcomp"), F.col("comp")).alias("comp"),
                    "ocomp")
            .localCheckpoint(eager=True)
        )
        # identical to the old new⋈old inner-join-on-node comparison:
        # both rounds' node sets are equal and ocomp IS the old comp.
        changed = new_full.where(F.col("comp") != F.col("ocomp")).count()
        labels = new_full.select("node", "comp")
        if changed == 0:
            break
    e.unpersist()
    if return_rounds:
        return labels, rounds
    return labels
