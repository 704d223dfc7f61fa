"""The persisted IVF+PQ index through its lifecycle: build, append,
compaction, tombstones and refresh (plans/similarity_queries.py over
operators/vectors.py).

Each probe query has an exact DuckDB oracle (tests/test_oracle.py);
these tests pin what an oracle row can't see: the persisted artifacts
and their shapes, the composition's consistency with its two certified
halves, that compaction and purges move bytes but never change a probe's
answer, the writer's file-count rule, and both branches of the refresh
decision with their recall floors and the balance contract that is the
reason a production index refreshes its quantizer at all. Plan shapes
(directory pruning of each layout) are in test_plan_shape.py."""

import glob
import hashlib
import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.plan_walk import nodes, scan_paths, scans_of


def _probe_rows(df):
    return [(r["qid"], r["vec_id"], r["cosine"], r["rn"])
            for r in df.collect()]


def _unit_vectors(spark):
    from spark_sentiment_spark.operators.vectors import as_double, norm

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    e = as_double("embedding")
    unit = F.transform(e, lambda x: x / norm(e))
    return emb.select("vec_id", unit.alias("e"))


def _index_base(df, fragment):
    """The staging dir of the index whose code table ``df`` scans."""
    path = next(p for s in scans_of(nodes(df), fragment)
                for p in scan_paths(s) if "/codes" in p)
    return path.split("/codes", 1)[0].removeprefix("file:")


# --- build and append ---------------------------------------------------

def test_ivfpq_index_artifacts_are_staged(spark, query):
    """The build phase must leave all THREE artifacts on disk — the code
    table partitioned by cell (each vector in its IVF_ASSIGN=2 home
    cells, M small-int codes each), the K-row centroid table (probe
    routing replays from the artifact), and the M x K codebook (ADC
    tables replay from the artifact)."""
    from spark_sentiment_spark.plans import registry
    from spark_sentiment_spark.operators.vectors import IVF_ASSIGN, PQ_K, PQ_M

    base = _index_base(query("ann_ivfpq_persisted_probe"), "ivfpq_index_")

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
    registry.release_caches()
    # track_staging_dir cleanup must reclaim the index (no staging leaks)
    assert not glob.glob(base + "/codes/cell=*")


def test_ivfpq_candidates_are_the_ivf_cells_pq_ranked(query):
    """Consistency with the two certified halves: every IVFPQ result id
    must lie in the pure-IVF candidate universe (same probed cells — the
    coarse layer is shared arithmetic), and the exact-cosine values must
    agree with the brute-force query wherever the same (qid, vec_id)
    pair appears in both."""
    composed = query("ann_ivfpq_persisted_probe").collect()
    exact = query("knn_cosine_topk").collect()
    assert composed, "fixture produced no top-k rows"
    exact_cos = {(r.qid, r.vec_id): r.cosine for r in exact}
    for r in composed:
        if (r.qid, r.vec_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.qid, r.vec_id)]) < 1e-9


@pytest.mark.usefixtures("run")
def test_ivfpq_index_append_contract(spark):
    """The documented append contract, demonstrated: with the quantizer
    artifacts frozen (centroids + codebook copied from the original
    build), a code table assembled by TWO partitionBy-cell APPEND
    writes must serve a probe byte-identically to the one-shot index —
    newly indexed vectors really can land in their cells' partitions
    between batches without rebuilding anything."""
    from spark_sentiment_spark.plans.registry import track_staging_dir
    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, ivfpq_probe, ivfpq_stage_index)

    vecs = _unit_vectors(spark)
    base, n_codes = ivfpq_stage_index(spark, vecs)
    full = [tuple(r) for r in
            ivfpq_probe(spark, vecs, base, n_codes, IVFPQ_RERANK)
            .collect()]

    base2 = track_staging_dir("ivfpq_append_")
    for art in ("centroids", "codebook"):
        spark.read.parquet(f"{base}/{art}") \
            .write.parquet(f"{base2}/{art}")
    codes = spark.read.parquet(base + "/codes")
    for parity in (0, 1):  # initial ingest, then an append batch
        codes.where(F.col("vec_id") % 2 == parity) \
            .write.partitionBy("cell").mode("append") \
            .parquet(base2 + "/codes")

    incr = [tuple(r) for r in
            ivfpq_probe(spark, vecs, base2, n_codes, IVFPQ_RERANK)
            .collect()]
    assert incr == full and full


# --- compaction ---------------------------------------------------------

def test_compacted_probe_identical_to_one_shot_index(query):
    """Probe-identity across the whole lifecycle: the probe over the
    COMPACTED 4-batch-appended code table must equal the probe over the
    one-shot index row-for-row (same quantizer seeds, same rows — only
    the file layout differs). This is the maintenance-pass contract:
    compaction moves bytes, never rows."""
    compacted = _probe_rows(query("ann_ivfpq_compacted_probe"))
    one_shot = _probe_rows(query("ann_ivfpq_persisted_probe"))
    assert compacted == one_shot and one_shot


def test_compaction_file_counts_follow_the_writer_rule(spark, query):
    """files_before/files_after must equal the writer's own rule
    measured from the REAL directories: each of the 4 appends
    hash-clusters on cell, so a cell dir gains one file per batch
    containing >=1 row assigned to it (distinct (batch, cell) pairs);
    the compact pass rewrites one file per cell (distinct cells). The
    oracle computes the same rule from its assignment CTE, so this test
    plus the driver row certify writer behavior end-to-end."""
    from spark_sentiment_spark.plans.similarity_queries import (
        N_COMPACT_BATCHES)

    df = query("ann_ivfpq_compacted_probe")
    row = df.limit(1).collect()[0]
    base = _index_base(df, "ivfpq_compact_")

    frag = glob.glob(base + "/codes/cell=*/*.parquet")
    comp = glob.glob(base + "/codes_compact/cell=*/*.parquet")
    assert row["files_before"] == len(frag)
    assert row["files_after"] == len(comp)
    assert row["files_before"] > row["files_after"]  # compaction happened

    codes = spark.read.parquet(base + "/codes")
    expect_before = (codes
                     .select((F.col("vec_id") % N_COMPACT_BATCHES)
                             .alias("b"), "cell")
                     .distinct().count())
    expect_after = codes.select("cell").distinct().count()

    # compacted table content == fragmented table content (bytes moved,
    # rows untouched)
    comp_rows = sorted(map(tuple, spark.read.parquet(
        base + "/codes_compact").select("vec_id", "cell").collect()))
    frag_rows = sorted(map(tuple, codes.select("vec_id", "cell").collect()))
    assert row["files_before"] == expect_before
    assert row["files_after"] == expect_after
    assert comp_rows == frag_rows


def _unit_md5(tag):
    raw = [int(hashlib.md5(f"{tag}:{d}".encode()).hexdigest()[:6], 16)
           / 0xFFFFFF - 0.5 for d in range(64)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


@pytest.mark.usefixtures("run")
def test_fragmented_write_rule_when_a_batch_misses_cells(spark):
    """The file-count rule's non-trivial branch: at the shipped SFs every
    append batch happens to touch every cell (files_before = 4 x 16), so
    the real-data pin never exercises a batch MISSING a cell. A 24-vector
    corpus makes each ~6-vector batch cover at most 12 of the 16 cells
    (2 assignments each), forcing missing (batch, cell) pairs — the
    directory listing must then equal the distinct-(batch, cell) rule
    (no empty part files for untouched cells), compaction must still
    yield one file per NON-EMPTY cell, and the probe over the fragmented
    table must equal the probe over the one-shot index on the same
    corpus (append-contract identity on a corpus where the batch split
    is genuinely uneven)."""
    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, ivfpq_probe, ivfpq_stage_index)
    from spark_sentiment_spark.plans.similarity_queries import (
        N_COMPACT_BATCHES)

    # deterministic unit vector per id (md5-derived, engine-free)
    vecs = spark.createDataFrame([(i, _unit_md5(i)) for i in range(24)],
                                 "vec_id long, e array<double>")

    base, n_codes = ivfpq_stage_index(spark, vecs,
                                      code_batches=N_COMPACT_BATCHES,
                                      prefix="ivfpq_edge_")
    assert n_codes == 16
    codes = spark.read.parquet(base + "/codes")
    expect_before = (codes.select(
        (F.col("vec_id") % N_COMPACT_BATCHES).alias("b"), "cell")
        .distinct().count())
    n_cells = codes.select("cell").distinct().count()
    # the edge is real: some (batch, cell) pair is missing
    assert expect_before < N_COMPACT_BATCHES * n_cells
    assert len(glob.glob(base + "/codes/cell=*/*.parquet")) == expect_before

    (spark.read.parquet(base + "/codes")
     .repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(base + "/codes_compact"))
    assert len(glob.glob(base + "/codes_compact/cell=*/*.parquet")) \
        == n_cells

    frag = [tuple(r) for r in ivfpq_probe(
        spark, vecs, base, n_codes, IVFPQ_RERANK).collect()]
    comp = [tuple(r) for r in ivfpq_probe(
        spark, vecs, base, n_codes, IVFPQ_RERANK,
        codes_subdir="codes_compact").collect()]
    one_shot_base, _ = ivfpq_stage_index(spark, vecs)
    one = [tuple(r) for r in ivfpq_probe(
        spark, vecs, one_shot_base, n_codes, IVFPQ_RERANK).collect()]
    assert frag == comp == one and one


@pytest.mark.usefixtures("run")
def test_compaction_hot_cell_splits_by_max_records_per_file(spark):
    """The 100 TB skew answer, demonstrated: one task per cell is right
    until a hot cell's codes outgrow a single right-sized file — then
    production sets spark.sql.files.maxRecordsPerFile on the compact
    write, and the writer splits each cell's single-task output into
    ceil(cell_rows / target) files deterministically (no salting, no
    second shuffle, layout and pruning unchanged). Pin exactly that:
    compact the fragmented demo index with a small target, assert the
    per-cell file counts equal the ceil rule, and the probe over the
    split layout is row-identical to the single-file compact."""
    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, ivfpq_probe, ivfpq_stage_index)
    from spark_sentiment_spark.plans.similarity_queries import (
        N_COMPACT_BATCHES)

    vecs = _unit_vectors(spark)
    base, n_codes = ivfpq_stage_index(spark, vecs,
                                      code_batches=N_COMPACT_BATCHES,
                                      prefix="ivfpq_split_")
    codes = spark.read.parquet(base + "/codes")
    per_cell = {r["cell"]: r["n"] for r in
                codes.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    target = max(2, max(per_cell.values()) // 3)  # force >=2 files somewhere

    (codes.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .option("maxRecordsPerFile", target)
     .parquet(base + "/codes_split"))
    for cell, n in per_cell.items():
        got = len(glob.glob(f"{base}/codes_split/cell={cell}/*.parquet"))
        assert got == math.ceil(n / target), (cell, n, target, got)
    assert any(math.ceil(n / target) >= 2 for n in per_cell.values())

    (codes.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(base + "/codes_compact"))
    split = [tuple(r) for r in ivfpq_probe(
        spark, vecs, base, n_codes, IVFPQ_RERANK,
        codes_subdir="codes_split").collect()]
    single = [tuple(r) for r in ivfpq_probe(
        spark, vecs, base, n_codes, IVFPQ_RERANK,
        codes_subdir="codes_compact").collect()]
    assert split == single and single


# --- deletes: tombstones and purge ---------------------------------------

def test_tombstone_probe_equals_physical_purge(spark, query):
    """The delete lifecycle's two phases must agree: the LOGICAL
    tombstone probe (broadcast anti-join at scan time, index untouched)
    and the PHYSICAL purge (code table anti-join-rewritten without the
    deleted rows, same partitionBy-cell layout, same frozen quantizers)
    must return row-identical results — the purge contract that lets a
    maintenance service rewrite whenever tombstones accumulate without
    changing any probe's answer. Also pins that deleted vectors are
    gone from the purged table and never appear in either result."""
    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, ivfpq_probe, ivfpq_stage_index)
    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

    tomb_rows = _probe_rows(query("ann_ivfpq_tombstone_probe"))
    assert tomb_rows and all(v % TOMB_MOD != TOMB_RES
                             for _, v, _, _ in tomb_rows)

    vecs = _unit_vectors(spark)
    base, n_codes = ivfpq_stage_index(spark, vecs, prefix="ivfpq_purge_")
    tomb = (vecs.where((F.col("vec_id") % TOMB_MOD) == TOMB_RES)
            .select("vec_id"))
    codes = spark.read.parquet(base + "/codes")
    (codes.join(tomb, "vec_id", "left_anti")
     .repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(base + "/codes_purged"))
    purged = spark.read.parquet(base + "/codes_purged")
    assert purged.where((F.col("vec_id") % TOMB_MOD) == TOMB_RES).count() == 0
    n_del = codes.select("vec_id").distinct() \
        .where((F.col("vec_id") % TOMB_MOD) == TOMB_RES).count()
    assert n_del > 0  # the delete set is non-empty at this SF
    assert purged.count() == codes.count() - codes.where(
        (F.col("vec_id") % TOMB_MOD) == TOMB_RES).count()

    purge_rows = [tuple(r) for r in ivfpq_probe(
        spark, vecs, base, n_codes, IVFPQ_RERANK,
        codes_subdir="codes_purged").collect()]
    assert purge_rows == tomb_rows


# --- refresh: the decision rule and what it buys ---------------------------

def test_untriggered_branch_serves_stale_tombstone_probe(query):
    """With the threshold raised past the corpus's ~14.3% delete set,
    the decision must NOT fire: the query serves the stale index with
    broadcast tombstones — row-identical to `ann_ivfpq_tombstone_probe`
    (same corpus, same content-addressed quantizers) with refreshed=0.
    The oracle replays only the triggered branch (the shipped corpora
    all fire the 10% rule), so this pin is what certifies the other
    leg."""
    rows = query("ann_ivfpq_refresh_probe", refresh_pct=50).collect()
    twin = _probe_rows(query("ann_ivfpq_tombstone_probe"))
    assert all(r["refreshed"] == 0 for r in rows)
    assert [(r["qid"], r["vec_id"], r["cosine"], r["rn"])
            for r in rows] == twin and twin


def test_refresh_decision_metadata_matches_corpus(spark, query):
    """Triggered run: refreshed=1 on the shipped corpus, and the
    index-derived decision inputs (distinct vec_id count in the code
    table, tombstoned subset) must equal the raw corpus counts the
    oracle's scalar subqueries compute — the equality that makes the
    decide-from-the-index implementation oracle-checkable."""
    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    d = emb.where((F.col("vec_id") % TOMB_MOD) == TOMB_RES).count()
    row = query("ann_ivfpq_refresh_probe").limit(1).collect()[0]
    assert row["refreshed"] == 1
    assert row["indexed_rows"] == n
    assert row["tomb_rows"] == d
    assert d * 100 >= n * 10  # the shipped corpus really does trigger


def test_refresh_probe_recall_floors(query):
    """Recall@10 of BOTH serving paths against brute-force ground truth
    over the survivors. On the uniform mod-7 delete set retraining is
    recall-NEUTRAL (no drift to correct; measured 0.34 refreshed / 0.40
    stale — fewer effective cells at fixed n_probe covers a larger
    survivor fraction), so the pin is two floors, not an ordering: each
    path must stay a working ANN index. The refresh pass's real payoff
    is the balance contract, pinned below."""
    import duckdb

    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

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

    r_fresh = recall(query("ann_ivfpq_refresh_probe"))  # triggered
    r_stale = recall(query("ann_ivfpq_refresh_probe",   # stale + tombstones
                           refresh_pct=50))
    assert r_fresh >= 0.25, r_fresh
    assert r_stale >= 0.25, r_stale


def _vec(i, center, noise=0.05):
    raw = _unit_md5(f"pt{i}")
    v = [c + noise * x for c, x in zip(center, raw)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pytest.mark.usefixtures("run")
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
    from pyspark.sql.window import Window

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

    assert stale_max >= 2 * fresh_max, (stale_max, fresh_max)
    assert stale_max > 0.25, stale_max   # the hot cell really is hot
    assert fresh_max < 0.15, fresh_max   # and the refresh really fixes it


def test_full_takedown_returns_empty_with_stable_schema(spark, query,
                                                        tmp_path):
    """Degenerate triggered branch: a corpus where EVERY vector is
    deleted (all vec_ids ≡ TOMB_RES mod TOMB_MOD) fires the rule with
    nothing left to retrain on — the query must return an empty frame
    with the stable 7-column schema instead of crashing on an empty
    survivor index (the engine-grade contract test_empty_tables pins
    for zero-row inputs, here for the all-tombstoned shape)."""
    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

    rows = [(TOMB_RES + i * TOMB_MOD,
             [float((i * 7 + d) % 13) / 13.0 for d in range(64)])
            for i in range(4)]
    (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
     .write.parquet(str(tmp_path / "embeddings.parquet")))
    df = query("ann_ivfpq_refresh_probe", str(tmp_path))
    assert df.collect() == []
    assert [f.name for f in df.schema.fields] == [
        "qid", "vec_id", "cosine", "rn",
        "tomb_rows", "indexed_rows", "refreshed"]


def test_duplicate_vec_id_corpus_fails_loudly(spark, query, tmp_path):
    """The refresh decision counts distinct vec_id in the staged code
    table while the oracle counts raw embeddings rows — equal only if
    vec_id is unique and every row is indexed. A corpus violating that
    must raise at decision time (loud, named invariant) instead of
    serving decision metadata that would hash-mismatch the oracle far
    from the probe rows."""
    rows = [(i, [float((i * 7 + d) % 13) / 13.0 for d in range(64)])
            for i in range(24)]
    rows.append(rows[0])  # duplicate vec_id 0: raw count 25, distinct 24
    (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
     .write.parquet(str(tmp_path / "embeddings.parquet")))
    with pytest.raises(ValueError, match="refresh decision invariant"):
        query("ann_ivfpq_refresh_probe", str(tmp_path))
