"""Round-15 additions. `ann_ivfpq_compacted_probe` has an exact DuckDB
oracle (driver-routed, and swept by tests/test_oracle.py); these tests
pin what the driver row can't see: that compaction preserves probe
results row-for-row against the one-shot index, that the measured
file counts obey the writer's fragmentation rule, and (in
test_plan_shape.py) that the compacted layout still directory-prunes."""

import glob

from tests.conftest import SF_DIR


def _probe_rows(df):
    return [(r["qid"], r["vec_id"], r["cosine"], r["rn"])
            for r in df.collect()]


def test_compacted_probe_identical_to_one_shot_index(spark):
    """Probe-identity across the whole lifecycle: the probe over the
    COMPACTED 4-batch-appended code table must equal the probe over the
    one-shot index row-for-row (same quantizer seeds, same rows — only
    the file layout differs). This is the maintenance-pass contract:
    compaction moves bytes, never rows."""
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)

    all_queries()
    compacted = _probe_rows(
        REGISTRY["ann_ivfpq_compacted_probe"].fn(spark, SF_DIR))
    one_shot = _probe_rows(
        REGISTRY["ann_ivfpq_persisted_probe"].fn(spark, SF_DIR))
    release_caches()
    assert compacted == one_shot and one_shot


def test_compaction_file_counts_follow_the_writer_rule(spark):
    """files_before/files_after must equal the writer's own rule
    measured from the REAL directories: each of the 4 appends
    hash-clusters on cell, so a cell dir gains one file per batch
    containing >=1 row assigned to it (distinct (batch, cell) pairs);
    the compact pass rewrites one file per cell (distinct cells). The
    oracle computes the same rule from its assignment CTE, so this test
    plus the driver row certify writer behavior end-to-end."""
    from pyspark.sql import functions as F

    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.plans.similarity_queries import (
        N_COMPACT_BATCHES)

    all_queries()
    df = REGISTRY["ann_ivfpq_compacted_probe"].fn(spark, SF_DIR)
    row = df.limit(1).collect()[0]
    plan = df._jdf.queryExecution().executedPlan().toString()
    base = next(seg for seg in plan.split("file:")[1:]
                if "ivfpq_compact_" in seg).split("/codes", 1)[0]

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
    release_caches()
    assert row["files_before"] == expect_before
    assert row["files_after"] == expect_after
    assert comp_rows == frag_rows


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
    import glob
    import hashlib
    import math

    from pyspark.sql import functions as F

    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, ivfpq_probe, ivfpq_stage_index)
    from spark_sentiment_spark.plans.registry import release_caches
    from spark_sentiment_spark.plans.similarity_queries import (
        N_COMPACT_BATCHES)

    def vec(i):
        # deterministic unit vector per id (md5-derived, engine-free)
        raw = [int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:6], 16)
               / 0xFFFFFF - 0.5 for d in range(64)]
        n = math.sqrt(sum(x * x for x in raw))
        return [x / n for x in raw]

    vecs = spark.createDataFrame([(i, vec(i)) for i in range(24)],
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
        spark, vecs, base, n_codes, IVFPQ_RERANK, 10).collect()]
    comp = [tuple(r) for r in ivfpq_probe(
        spark, vecs, base, n_codes, IVFPQ_RERANK, 10,
        codes_subdir="codes_compact").collect()]
    one_shot_base, _ = ivfpq_stage_index(spark, vecs)
    one = [tuple(r) for r in ivfpq_probe(
        spark, vecs, one_shot_base, n_codes, IVFPQ_RERANK, 10).collect()]
    release_caches()
    assert frag == comp == one and one


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
    import glob
    import math

    from pyspark.sql import functions as F

    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, as_double, ivfpq_probe, ivfpq_stage_index, norm)
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.plans.similarity_queries import (
        N_COMPACT_BATCHES)

    all_queries()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    e = as_double("embedding")
    unit = F.transform(e, lambda x: x / norm(e))
    vecs = emb.select("vec_id", unit.alias("e"))
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
        spark, vecs, base, n_codes, IVFPQ_RERANK, 10,
        codes_subdir="codes_split").collect()]
    single = [tuple(r) for r in ivfpq_probe(
        spark, vecs, base, n_codes, IVFPQ_RERANK, 10,
        codes_subdir="codes_compact").collect()]
    release_caches()
    assert split == single and single


def test_tombstone_probe_equals_physical_purge(spark):
    """The delete lifecycle's two phases must agree: the LOGICAL
    tombstone probe (broadcast anti-join at scan time, index untouched)
    and the PHYSICAL purge (code table anti-join-rewritten without the
    deleted rows, same partitionBy-cell layout, same frozen quantizers)
    must return row-identical results — the purge contract that lets a
    maintenance service rewrite whenever tombstones accumulate without
    changing any probe's answer. Also pins that deleted vectors are
    gone from the purged table and never appear in either result."""
    from pyspark.sql import functions as F

    from spark_sentiment_spark.operators.vectors import (
        IVFPQ_RERANK, as_double, ivfpq_probe, ivfpq_stage_index, norm)
    from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                      release_caches)
    from spark_sentiment_spark.plans.similarity_queries import (TOMB_MOD,
                                                                TOMB_RES)

    all_queries()
    tomb_rows = _probe_rows(
        REGISTRY["ann_ivfpq_tombstone_probe"].fn(spark, SF_DIR))
    assert tomb_rows and all(v % TOMB_MOD != TOMB_RES
                             for _, v, _, _ in tomb_rows)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    e = as_double("embedding")
    unit = F.transform(e, lambda x: x / norm(e))
    vecs = emb.select("vec_id", unit.alias("e"))
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
        spark, vecs, base, n_codes, IVFPQ_RERANK, 10,
        codes_subdir="codes_purged").collect()]
    release_caches()
    assert purge_rows == tomb_rows
