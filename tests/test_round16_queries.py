"""Round-16 addition: `ann_ivfpq_refresh_probe` has an exact DuckDB
oracle (driver-routed, swept by tests/test_oracle.py at sf0.001 and by
scripts/sweep.py at sf0.1); these tests pin what the driver row
can't see — the decision rule's BOTH branches on the same corpus, the
decision metadata against direct corpus counts, the recall floors of
both serving paths, and the balance contract (the reason a production
index refreshes its quantizer at all) on a constructed drifted corpus.
"""

import hashlib
import math

from tests.conftest import SF_DIR


def _probe_rows(df):
    return [(r["qid"], r["vec_id"], r["cosine"], r["rn"])
            for r in df.collect()]


def test_untriggered_branch_serves_stale_tombstone_probe(spark):
    """With the threshold raised past the corpus's ~14.3% delete set,
    the decision must NOT fire: the query serves the stale index with
    broadcast tombstones — row-identical to `ann_ivfpq_tombstone_probe`
    (same corpus, same content-addressed quantizers) with refreshed=0.
    The oracle replays only the triggered branch (the shipped corpora
    all fire the 10% rule), so this pin is what certifies the other
    leg."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    stale = REGISTRY["ann_ivfpq_refresh_probe"].fn(spark, SF_DIR,
                                                   refresh_pct=50)
    rows = stale.collect()
    twin = _probe_rows(REGISTRY["ann_ivfpq_tombstone_probe"].fn(spark,
                                                                SF_DIR))
    release_caches()
    assert all(r["refreshed"] == 0 for r in rows)
    assert [(r["qid"], r["vec_id"], r["cosine"], r["rn"])
            for r in rows] == twin and twin


def test_refresh_decision_metadata_matches_corpus(spark):
    """Triggered run: refreshed=1 on the shipped corpus, and the
    index-derived decision inputs (distinct vec_id count in the code
    table, tombstoned subset) must equal the raw corpus counts the
    oracle's scalar subqueries compute — the equality that makes the
    decide-from-the-index implementation oracle-checkable."""
    from pyspark.sql import functions as F

    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

    all_queries()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    d = emb.where((F.col("vec_id") % TOMB_MOD) == TOMB_RES).count()
    row = (REGISTRY["ann_ivfpq_refresh_probe"].fn(spark, SF_DIR)
           .limit(1).collect()[0])
    release_caches()
    assert row["refreshed"] == 1
    assert row["indexed_rows"] == n
    assert row["tomb_rows"] == d
    assert d * 100 >= n * 10  # the shipped corpus really does trigger


def test_refresh_probe_recall_floors(spark):
    """Recall@10 of BOTH serving paths against brute-force ground truth
    over the survivors. On the uniform mod-7 delete set retraining is
    recall-NEUTRAL (no drift to correct; measured 0.34 refreshed / 0.40
    stale — fewer effective cells at fixed n_probe covers a larger
    survivor fraction), so the pin is two floors, not an ordering: each
    path must stay a working ANN index. The refresh pass's real payoff
    is the balance contract, pinned below."""
    import duckdb

    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

    all_queries()
    gt = duckdb.sql(f"""
      WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e
                 FROM '{SF_DIR}/embeddings.parquet'),
      un AS (SELECT vec_id,
                    list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                      AS u FROM c),
      s AS (SELECT * FROM un WHERE vec_id % {TOMB_MOD} <> {TOMB_RES})
      SELECT q.vec_id AS qid, v.vec_id
      FROM un q JOIN s v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < 5
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_dot_product(q.u, v.u) DESC, v.vec_id) <= 10
    """).fetchall()
    truth = {}
    for qid, vid in gt:
        truth.setdefault(qid, set()).add(vid)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["qid"], set()).add(r["vec_id"])
        hit = sum(len(got.get(q, set()) & truth[q]) for q in truth)
        return hit / sum(len(v) for v in truth.values())

    fn = REGISTRY["ann_ivfpq_refresh_probe"].fn
    r_fresh = recall(fn(spark, SF_DIR))                  # triggered
    r_stale = recall(fn(spark, SF_DIR, refresh_pct=50))  # stale + tombstones
    release_caches()
    assert r_fresh >= 0.25, r_fresh
    assert r_stale >= 0.25, r_stale


def _unit_md5(tag):
    raw = [int(hashlib.md5(f"{tag}:{d}".encode()).hexdigest()[:6], 16)
           / 0xFFFFFF - 0.5 for d in range(64)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def _vec(i, center, noise=0.05):
    raw = _unit_md5(f"pt{i}")
    v = [c + noise * x for c, x in zip(center, raw)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_refresh_rebalances_drifted_occupancy(spark):
    """The balance contract — the production reason for quantizer
    refresh: a quantizer frozen at build time maps a DRIFTED append (a
    tight new mode none of the seeds saw) into a handful of hot cells,
    so a probe visiting the new mode reads an unbounded fraction of the
    index; retraining on the current corpus re-seeds cells inside the
    new mode and occupancy rebalances. Constructed 16-mode corpus (160
    vectors) + one tight appended mode (160 vectors), md5-deterministic:
    stale max cell share measures ~0.31 (the whole new mode lands in
    its nearest old cells), refreshed ~0.10 — pinned at 2x slack plus
    absolute bands so a quantizer regression on either side fails."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from spark_sentiment_spark.plans.registry import release_caches
    from spark_sentiment_spark.operators.vectors import (
        IVF_ASSIGN, dot, ivfpq_stage_index)

    modes = [_unit_md5(f"mode{m}") for m in range(16)]
    new_mode = _unit_md5("newmode")
    orig = spark.createDataFrame(
        [(i, _vec(i, modes[i % 16])) for i in range(160)],
        "vec_id long, e array<double>")
    appended = spark.createDataFrame(
        [(i, _vec(i, new_mode)) for i in range(160, 320)],
        "vec_id long, e array<double>")

    # stale: quantizer trained on the original corpus only; the appended
    # batch is assigned with the FROZEN centroids (the append contract)
    base, n_codes = ivfpq_stage_index(spark, orig, prefix="ivfpq_drift_")
    assert n_codes == 16
    cent = spark.read.parquet(base + "/centroids")
    sim = F.round(dot(F.col("e"), F.col("cu")), 6)
    wa = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))

    def assign(vecs):
        return (vecs.crossJoin(F.broadcast(cent))
                .select("vec_id", "cell", sim.alias("sim"))
                .withColumn("rn", F.row_number().over(wa))
                .where(F.col("rn") <= IVF_ASSIGN)
                .select("vec_id", "cell"))

    occ = (assign(orig).union(assign(appended))
           .groupBy("cell").count().collect())
    stale_max = max(r["count"] for r in occ) / sum(r["count"] for r in occ)

    # refreshed: retrain on the full current corpus (what the triggered
    # branch of ann_ivfpq_refresh_probe does for its delete-set rule)
    base2, n2 = ivfpq_stage_index(spark, orig.union(appended),
                                  prefix="ivfpq_drift_fresh_")
    assert n2 == 16
    occ2 = (spark.read.parquet(base2 + "/codes")
            .groupBy("cell").count().collect())
    fresh_max = max(r["count"] for r in occ2) / sum(r["count"] for r in occ2)
    release_caches()

    assert stale_max >= 2 * fresh_max, (stale_max, fresh_max)
    assert stale_max > 0.25, stale_max   # the hot cell really is hot
    assert fresh_max < 0.15, fresh_max   # and the refresh really fixes it


def test_full_takedown_returns_empty_with_stable_schema(spark, tmp_path):
    """Degenerate triggered branch: a corpus where EVERY vector is
    deleted (all vec_ids ≡ TOMB_RES mod TOMB_MOD) fires the rule with
    nothing left to retrain on — the query must return an empty frame
    with the stable 7-column schema instead of crashing on an empty
    survivor index (the engine-grade contract test_empty_tables pins
    for zero-row inputs, here for the all-tombstoned shape)."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

    all_queries()
    rows = [(TOMB_RES + i * TOMB_MOD,
             [float((i * 7 + d) % 13) / 13.0 for d in range(64)])
            for i in range(4)]
    (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
     .write.parquet(str(tmp_path / "embeddings.parquet")))
    df = REGISTRY["ann_ivfpq_refresh_probe"].fn(spark, str(tmp_path))
    out = df.collect()
    release_caches()
    assert out == []
    assert [f.name for f in df.schema.fields] == [
        "qid", "vec_id", "cosine", "rn",
        "tomb_rows", "indexed_rows", "refreshed"]


def test_duplicate_vec_id_corpus_fails_loudly(spark, tmp_path):
    """Round-16 ADVICE pin: the refresh decision counts distinct vec_id
    in the staged code table while the oracle counts raw embeddings
    rows — equal only if vec_id is unique and every row is indexed. A
    corpus violating that must raise at decision time (loud, named
    invariant) instead of serving decision metadata that would
    hash-mismatch the oracle far from the probe rows."""
    import pytest

    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    rows = [(i, [float((i * 7 + d) % 13) / 13.0 for d in range(64)])
            for i in range(24)]
    rows.append(rows[0])  # duplicate vec_id 0: raw count 25, distinct 24
    (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
     .write.parquet(str(tmp_path / "embeddings.parquet")))
    with pytest.raises(ValueError, match="refresh decision invariant"):
        REGISTRY["ann_ivfpq_refresh_probe"].fn(spark, str(tmp_path))
    release_caches()
