"""Vector kernels over the ``embeddings`` table (array<float>, dim 64):
unit-vector arithmetic as native ``aggregate``/``zip_with`` Column
expressions, and the IVF, PQ and composed IVF+PQ index kernels shared by
the inline, persisted and streaming ANN queries, with the DuckDB SQL of
their oracles.

Every quantizer is seeded content-addressed (the md5-smallest vec_ids), and
PQ scores are fixed-point integers, so any engine replays cells, codes and
rankings exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas-UDF type hints resolve from here
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from spark_sentiment_spark.plans.registry import (track_persist,
                                                  track_staging_dir)


def as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


def unit_vector(col: str):
    """The L2-normalized double array of the float-array column ``col``."""
    e = as_double(col)
    return F.transform(e, lambda x: x / norm(e))


def unit_vector_frame(emb, name: str, *cols):
    """Persisted (vec_id, *cols, ``name``) rows of an embeddings frame,
    ``name`` its unit vector. Index builds and probes read the frame
    several times (seed fetch, cell assignment, encode, probe); without
    the cache each read re-scans the table and re-normalizes."""
    return track_persist(emb.select(
        "vec_id", *cols, unit_vector("embedding").alias(name)))


#: table-size cache for the adaptive-planes rule: the count only feeds a
#: log2, staleness across appends is harmless (planes move by whole bits).
_ROW_COUNTS: dict[str, int] = {}


def row_count(spark, path: str) -> int:
    if path not in _ROW_COUNTS:
        _ROW_COUNTS[path] = spark.read.parquet(path).count()
    return _ROW_COUNTS[path]


IVF_K, IVF_ASSIGN, IVF_PROBE, IVF_TOPK = 16, 2, 3, 10

ANN_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), un AS (
  SELECT vec_id, label,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM c
), seeds AS (
  SELECT vec_id, u
  FROM un ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {IVF_K}
), cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, u AS cu
  FROM seeds
), scored AS (
  SELECT un.vec_id, un.label, un.u, cent.cell,
         row_number() OVER (
           PARTITION BY un.vec_id
           ORDER BY round(list_dot_product(un.u, cent.cu), 6) DESC,
                    cent.cell) AS rn
  FROM un CROSS JOIN cent
), assigned AS (
  SELECT vec_id, label, u, cell FROM scored WHERE rn <= {IVF_ASSIGN}
), qprobes AS (
  SELECT vec_id AS qid, u AS qu, cell FROM scored
  WHERE vec_id < 5 AND rn <= {IVF_PROBE}
), cand AS (
  SELECT DISTINCT q.qid, a.vec_id, a.label,
         round(list_dot_product(q.qu, a.u), 6) AS cos
  FROM qprobes q JOIN assigned a ON q.cell = a.cell
  WHERE a.vec_id <> q.qid
), ranked AS (
  SELECT qid, vec_id, label, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM cand
)
SELECT qid, vec_id, CAST(label AS BIGINT) AS label,
       cos AS cosine, CAST(rn AS BIGINT) AS rn
FROM ranked
WHERE rn <= {IVF_TOPK}
ORDER BY qid, rn
"""


def ivf_centroids(vecs, k: int = IVF_K, cell: str = "cell"):
    """The ``k`` content-addressed coarse centroids (``cell``, cu) of a
    (vec_id, u) unit-vector frame: the vectors with the md5-smallest
    vec_ids, numbered from 0 in vec_id order — the `seeds`/`cent` CTEs
    of ANN_IVF_SQL."""
    seeds = (vecs
             .select("vec_id", "u",
                     F.md5(F.col("vec_id").cast("string")).alias("h"))
             .orderBy("h", "vec_id").limit(k))
    return seeds.select(
        (F.row_number().over(Window.orderBy("vec_id")) - 1).alias(cell),
        F.col("u").alias("cu"))


def ivf_ranked(vecs, cent, cell: str = "cell"):
    """Every (vector, centroid) pair of a (vec_id, …, u) frame and a
    (``cell``, cu) centroid table, with each vector's cells ranked: ``rn``
    1 is the nearest by cosine rounded to 6 dp, ties to the lower cell —
    the `scored` CTE of ANN_IVF_SQL."""
    sim = F.round(dot(F.col("u"), F.col("cu")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc(cell))
    return (vecs.crossJoin(F.broadcast(cent))
            .select(*vecs.columns, cell, sim.alias("sim"))
            .withColumn("rn", F.row_number().over(w)))


#: PQ layout: M subvectors × K centroids (4-bit codes). 64 dims → 8×8-dim
#: subspaces; 8 codes/vector vs 64 floats = 32× memory compression, the
#: knob that decides whether a 100 TB embedding store fits in cluster RAM.
PQ_M = 8
PQ_K = 16


PQ_RERANK = 200
PQ_SUB = 64 // PQ_M  # subspace dim (embeddings are dim-64)
#: Neighbours each PQ / IVF+PQ probe returns per query.
ANN_TOPK = 10


def pq_sql() -> str:
    """DuckDB twin of `ann_pq_topk`: ADC top-PQ_RERANK, exact re-rank,
    top-ANN_TOPK per query."""
    sub = PQ_SUB
    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM c
), seeds AS (
  SELECT vec_id, u
  FROM un ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {PQ_K}
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, u AS cu
  FROM seeds
), enc AS (
  SELECT un.vec_id, m.m, cb.code,
         list_dot_product(
           list_transform(generate_series(1, {sub}),
                          s -> un.u[m.m * {sub} + s]
                               - cb.cu[m.m * {sub} + s]),
           list_transform(generate_series(1, {sub}),
                          s -> un.u[m.m * {sub} + s]
                               - cb.cu[m.m * {sub} + s])) AS d2
  FROM un
  CROSS JOIN generate_series(0, {PQ_M - 1}) AS m(m)
  CROSS JOIN cb
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, code) AS rn
    FROM enc)
  WHERE rn = 1
), qt AS (
  SELECT q.vec_id AS qid, m.m, cb.code,
         CAST(floor(list_dot_product(
           list_transform(generate_series(1, {sub}),
                          s -> q.u[m.m * {sub} + s]),
           list_transform(generate_series(1, {sub}),
                          s -> cb.cu[m.m * {sub} + s])) * 1000000)
           AS BIGINT) AS ip_fp
  FROM un q
  CROSS JOIN generate_series(0, {PQ_M - 1}) AS m(m)
  CROSS JOIN cb
  WHERE q.vec_id < 5
), adc AS (
  SELECT qt.qid, codes.vec_id, sum(qt.ip_fp) AS adc_fp
  FROM codes JOIN qt ON codes.m = qt.m AND codes.code = qt.code
  WHERE codes.vec_id <> qt.qid
  GROUP BY qt.qid, codes.vec_id
), cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY adc_fp DESC, vec_id) AS rn
    FROM adc)
  WHERE rn <= {PQ_RERANK}
), rer AS (
  SELECT cand.qid, cand.vec_id,
         list_dot_product(q.u, v.u) AS cos
  FROM cand
  JOIN un q ON cand.qid = q.vec_id
  JOIN un v ON cand.vec_id = v.vec_id
)
SELECT qid, vec_id, round(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM rer)
WHERE rn <= {ANN_TOPK}
ORDER BY qid, rn
"""


ANN_PQ_SQL = pq_sql()


def pq_seed_codebooks(vecs):
    """Content-addressed seed fetch shared by every staged quantizer
    build: the PQ_K md5-smallest unit vectors (a 16-row bounded driver
    fetch any engine replays), returned as (n_codes, cbmat, codebooks)
    where cbmat is the K×dim seed matrix in vec_id order (row i = coarse
    centroid of cell i for the IVF layer) and codebooks its M×K×sub
    per-subspace view (codeword k of subspace m for the PQ layer).
    n_codes == 0 marks an empty corpus."""
    seed_rows = (vecs
                 .select("vec_id", "e",
                         F.md5(F.col("vec_id").cast("string")).alias("h"))
                 .orderBy("h", "vec_id").limit(PQ_K)
                 .select("vec_id", "e").collect())
    seed_rows.sort(key=lambda r: r["vec_id"])   # code order = vec_id order
    n_codes = len(seed_rows)
    if n_codes == 0:
        return 0, None, None
    cbmat = np.asarray([r["e"] for r in seed_rows], dtype=np.float64)
    codebooks = np.ascontiguousarray(
        cbmat.reshape(n_codes, PQ_M, PQ_SUB).transpose(1, 0, 2))  # M × K × s
    return n_codes, cbmat, codebooks


def pq_encoder(codebooks, n_codes: int):
    """The Arrow-batched PQ encode UDF (argmin codeword per subspace).
    The per-code distance accumulates over subspace dims SEQUENTIALLY (a
    dim-loop of vectorized +=, not np.sum) so the floats stay
    byte-identical to DuckDB's left-to-right list_dot_product fold."""

    @pandas_udf("array<int>")
    def _encode(embs: pd.Series) -> pd.Series:
        V = np.asarray(embs.tolist(), dtype=np.float64)     # batch × dim
        parts = V.reshape(len(V), PQ_M, PQ_SUB)             # b × M × s
        d2 = np.zeros((len(V), PQ_M, n_codes))
        for s in range(PQ_SUB):  # sequential over dims == DuckDB fold order
            diff = parts[:, :, None, s] - codebooks[None, :, :, s]
            d2 += diff * diff
        return pd.Series(d2.argmin(-1).astype(np.int32).tolist())

    return _encode


def pq_stage_index(spark, vecs):
    """Phase-1 PQ index builder, built once per corpus: content-addressed
    codebooks (the PQ_K md5-smallest vectors, replayable by any engine)
    + the Arrow-batched sequential-dim encode, staged as the two parquet
    artifacts a probe replays from — codes/ (vec_id, M small-int codes)
    and codebook/ (M×K codewords). Returns (base_dir, n_codes);
    n_codes == 0 marks an empty corpus (nothing staged)."""
    n_codes, codebooks_kd, codebooks = pq_seed_codebooks(vecs)
    if n_codes == 0:
        return None, 0
    _encode = pq_encoder(codebooks, n_codes)

    base = track_staging_dir("pq_index_")
    vecs.select("vec_id", _encode("e").alias("codes")) \
        .write.mode("overwrite").parquet(base + "/codes")
    _stage_codebook(spark, codebooks, n_codes, base)
    return base, n_codes


def _stage_codebook(spark, codebooks, n_codes: int, base: str) -> None:
    """Write the M×K codewords as base/codebook (m, code, cw), the
    artifact `pq_read_codebook` replays."""
    spark.createDataFrame(
        [(int(m), int(k), [float(x) for x in codebooks[m, k]])
         for m in range(PQ_M) for k in range(n_codes)],
        "m int, code int, cw array<double>") \
        .write.mode("overwrite").parquet(base + "/codebook")


def pq_read_codebook(spark, base: str, n_codes: int):
    """Bounded M×K read of the PERSISTED codebook back into the ndarray
    layout the ADC-table builder uses — probes replay from the artifact,
    never from driver memory left over from the build."""
    cb_rows = spark.read.parquet(base + "/codebook").collect()
    cb = np.zeros((PQ_M, n_codes, PQ_SUB))
    for r in cb_rows:
        cb[r["m"], r["code"]] = r["cw"]
    return cb


def pq_adc_tables(spark, queries, cb, n_codes: int):
    """Per-query fixed-point integer ADC tables (M×K inner products,
    floor(ip·1e6)) from collected query rows (qid, qe) — the tiny
    broadcast side of the ADC scan. Sequential fold over subspace dims
    keeps the floats byte-identical to DuckDB's list_dot_product."""
    probe_rows = []
    for q in queries:
        qv = np.asarray(q["qe"], dtype=np.float64).reshape(PQ_M, PQ_SUB)
        ip = np.zeros((PQ_M, n_codes))
        for s in range(PQ_SUB):  # sequential fold, then fixed-point floor
            ip += qv[:, None, s] * cb[:, :, s]
        tbl = np.floor(ip * 1e6).astype(np.int64).reshape(-1)
        probe_rows.append((q["qid"], [int(x) for x in tbl],
                           [float(x) for x in q["qe"]]))
    return spark.createDataFrame(
        probe_rows, "qid long, tbl array<long>, qe array<double>")


def pq_adc_topk(codes, probes, vecs, n_codes: int, rerank: int, cand=None):
    """The ADC scan + exact re-rank shared verbatim by the persisted
    batch probe, each streaming micro-batch, and the composed IVF+PQ
    probe: integer table-lookup scores over the stored codes (never the
    floats), per-qid top-``rerank`` window, exact cosine re-rank against
    the embedding store, top-``ANN_TOPK`` out. By default every (query,
    code-row) pair is scored (the full linear ADC scan of the flat PQ
    index); a caller that already narrowed the candidate set — the
    IVF+PQ probe joins probe cells to the cell-partitioned code table —
    passes it as ``cand`` (columns qid, vec_id, codes, tbl, qe) and only
    those pairs are scored."""
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)), F.lit(0).cast("bigint"),
        lambda acc, m: acc + F.element_at(
            F.col("tbl"), (m * F.lit(n_codes)
                           + F.element_at(F.col("codes"), m + 1) + 1)
            .cast("int")))
    if cand is None:
        cand = (codes.crossJoin(F.broadcast(probes))
                .where(F.col("vec_id") != F.col("qid")))
    w = Window.partitionBy("qid").orderBy(F.desc("adc"), F.asc("vec_id"))
    cand = (cand
            .select("qid", "vec_id", "qe", adc.alias("adc"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= rerank))

    cos = dot(F.col("qe"), F.col("e"))
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (vecs.join(F.broadcast(cand), "vec_id")
            .select("qid", "vec_id", cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w2).cast("long"))
            .where(F.col("rn") <= ANN_TOPK)
            .select("qid", "vec_id", F.round("cos", 6).alias("cosine"), "rn")
            .orderBy("qid", "rn"))


IVFPQ_RERANK = 50


def ivfpq_sql(extra_cols: str = "", cand_pred: str = "",
              base_pred: str = "") -> str:
    """The composed oracle: ANN_IVF_SQL's coarse chain (seeds → cells →
    multi-assignment → query probes) spliced with pq_sql's fine chain
    (codebooks → encode → fixed-point ADC tables), candidates restricted
    to probed cells BEFORE ADC scoring. With content-addressed seeds the
    two layers share one seed CTE: cb.code doubles as the coarse cell id
    (cell i's centroid IS seed vector i; codeword k of subspace m is its
    m-th sub-vector) — standard IVFPQ trains the two quantizers
    separately, but sampled quantizers seeded from the same rows
    coincide, which is exactly what makes the composition exactly
    replayable by any engine.

    ``base_pred`` (default "" — generated default output byte-identical)
    restricts the INDEXED corpus in the base CTE: the quantizer-refresh
    oracle passes the survivor predicate here, so seeds, cells, codes
    and candidates all re-derive from the post-delete corpus — exactly
    what retraining on survivors means."""
    sub = PQ_SUB
    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings{base_pred}
), un AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM c
), seeds AS (
  SELECT vec_id, u
  FROM un ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {PQ_K}
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, u AS cu
  FROM seeds
), cscore AS (
  SELECT un.vec_id, cb.code AS cell,
         row_number() OVER (
           PARTITION BY un.vec_id
           ORDER BY round(list_dot_product(un.u, cb.cu), 6) DESC,
                    cb.code) AS rn
  FROM un CROSS JOIN cb
), assigned AS (
  SELECT vec_id, cell FROM cscore WHERE rn <= {IVF_ASSIGN}
), qprobes AS (
  SELECT vec_id AS qid, cell FROM cscore
  WHERE vec_id < 5 AND rn <= {IVF_PROBE}
), enc AS (
  SELECT un.vec_id, m.m, cb.code,
         list_dot_product(
           list_transform(generate_series(1, {sub}),
                          s -> un.u[m.m * {sub} + s]
                               - cb.cu[m.m * {sub} + s]),
           list_transform(generate_series(1, {sub}),
                          s -> un.u[m.m * {sub} + s]
                               - cb.cu[m.m * {sub} + s])) AS d2
  FROM un
  CROSS JOIN generate_series(0, {PQ_M - 1}) AS m(m)
  CROSS JOIN cb
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, code) AS rn
    FROM enc)
  WHERE rn = 1
), qt AS (
  SELECT q.vec_id AS qid, m.m, cb.code,
         CAST(floor(list_dot_product(
           list_transform(generate_series(1, {sub}),
                          s -> q.u[m.m * {sub} + s]),
           list_transform(generate_series(1, {sub}),
                          s -> cb.cu[m.m * {sub} + s])) * 1000000)
           AS BIGINT) AS ip_fp
  FROM un q
  CROSS JOIN generate_series(0, {PQ_M - 1}) AS m(m)
  CROSS JOIN cb
  WHERE q.vec_id < 5
), cellcand AS (
  SELECT DISTINCT q.qid, a.vec_id
  FROM qprobes q JOIN assigned a ON q.cell = a.cell
  WHERE a.vec_id <> q.qid{cand_pred}
), adc AS (
  SELECT cc.qid, cc.vec_id, sum(qt.ip_fp) AS adc_fp
  FROM cellcand cc
  JOIN codes ON codes.vec_id = cc.vec_id
  JOIN qt ON qt.qid = cc.qid AND qt.m = codes.m AND qt.code = codes.code
  GROUP BY cc.qid, cc.vec_id
), cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY adc_fp DESC, vec_id) AS rn
    FROM adc)
  WHERE rn <= {IVFPQ_RERANK}
), rer AS (
  SELECT cand.qid, cand.vec_id,
         list_dot_product(q.u, v.u) AS cos
  FROM cand
  JOIN un q ON cand.qid = q.vec_id
  JOIN un v ON cand.vec_id = v.vec_id
)
SELECT qid, vec_id, round(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rn{extra_cols}
FROM (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id) AS rn
  FROM rer)
WHERE rn <= {ANN_TOPK}
ORDER BY qid, rn
"""


ANN_IVFPQ_SQL = ivfpq_sql()


def ivfpq_stage_index(spark, vecs, code_batches: int = 1,
                      prefix: str = "ivfpq_index_"):
    """Phase-1 composed IVF+PQ index builder: ONE corpus pass computes
    both quantizer layers — multi-assignment coarse cells (the
    `ann_ivf_topk` machinery) and M 4-bit PQ codes (the `pq_encoder`
    machinery, same content-addressed seeds) — and stages three parquet
    artifacts: codes/ PARTITIONED BY cell (so a probe's directory
    listing already prunes to visited cells), centroids/ (K rows, probe
    routing replays from the artifact), codebook/ (M×K codewords for
    ADC tables). Returns (base, n_codes); n_codes == 0 marks an empty
    corpus (nothing staged).

    ``code_batches > 1`` writes the code table as that many successive
    partitionBy-cell APPENDs (slice b = vec_id % code_batches), each
    hash-clustered on cell so a cell directory gains exactly one file
    per batch touching it — the micro-batch ingest shape that fragments
    cell partitions and that `ann_ivfpq_compacted_probe`'s maintenance
    pass exists to clean up. The staged ROWS are identical either way
    (quantizer artifacts come from the full corpus in both paths; only
    the code write is sliced), which is what makes compact-then-probe
    comparable to the one-shot index."""
    n_codes, cbmat, codebooks = pq_seed_codebooks(vecs)
    if n_codes == 0:
        return None, 0
    _encode = pq_encoder(codebooks, n_codes)

    cent = spark.createDataFrame(
        [(int(i), [float(x) for x in cbmat[i]]) for i in range(n_codes)],
        "cell int, cu array<double>")
    sim = F.round(dot(F.col("e"), F.col("cu")), 6)
    wa = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    cells = (vecs.crossJoin(F.broadcast(cent))
             .select("vec_id", "cell", sim.alias("sim"))
             .withColumn("rn", F.row_number().over(wa))
             .where(F.col("rn") <= IVF_ASSIGN)
             .select("vec_id", "cell"))

    base = track_staging_dir(prefix)
    coded = cells.join(vecs.select("vec_id", _encode("e").alias("codes")),
                       "vec_id")
    if code_batches == 1:
        (coded.repartition(8, F.col("cell"))
         .write.mode("overwrite").partitionBy("cell")
         .parquet(base + "/codes"))
    else:
        # One narrow (vec_id, cell, codes) frame serves every batch
        # write — unpersisted, each append re-runs the assignment
        # cross-join AND the Arrow encode over the whole corpus.
        coded = track_persist(coded)
        for b in range(code_batches):
            (coded.where(F.col("vec_id") % code_batches == b)
             .repartition(F.col("cell"))
             .write.mode("overwrite" if b == 0 else "append")
             .partitionBy("cell").parquet(base + "/codes"))
    cent.write.mode("overwrite").parquet(base + "/centroids")
    _stage_codebook(spark, codebooks, n_codes, base)
    return base, n_codes


def ivfpq_probe(spark, vecs, base: str, n_codes: int, rerank: int,
                queries=None, n_probe: int = IVF_PROBE,
                codes_subdir: str = "codes", tombstones=None):
    """Phase-2 of the composed IVF+PQ index — the recurring per-batch
    cost, callable on its own against pre-staged artifacts
    (`streaming_ivfpq_probe` runs it per micro-batch with that batch's
    ``queries`` frame (qid, qe) — default is the standard 5-query
    batch). ``n_probe`` (visited cells per query) and ``rerank`` are
    the two knobs of the recall/cost tradeoff — more probes read more
    code partitions, deeper rerank exact-scores more candidates. At
    rerank 200, recall@10 rises 0.48 → 0.86 from 2 to 16 probes at
    sf0.001; at rerank 50 it does not rise (ENGINE_NOTES.md has the
    table). tests/test_similarity_recall.py pins the monotone curve.

    Query routing replays from the persisted centroids — same ranking
    as the inline IVF (6-dp rounded sim desc, cell asc), a 16-row
    broadcast and a ≤ queries×n_probe collect (bounded control
    plane, like the codebook fetch)."""
    if queries is None:
        queries = vecs.where(F.col("vec_id") < 5) \
            .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    cent = spark.read.parquet(base + "/centroids")
    sim = F.round(dot(F.col("qe"), F.col("cu")), 6)
    wq = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cell"))
    qcell_rows = (queries
                  .crossJoin(F.broadcast(cent))
                  .select("qid", "cell", sim.alias("sim"))
                  .withColumn("rn", F.row_number().over(wq))
                  .where(F.col("rn") <= n_probe)
                  .select("qid", "cell").collect())
    visited = sorted({int(r["cell"]) for r in qcell_rows})
    qcells = spark.createDataFrame(
        [(int(r["qid"]), int(r["cell"])) for r in qcell_rows],
        "qid long, cell int")

    cb = pq_read_codebook(spark, base, n_codes)
    probes = pq_adc_tables(spark, queries.collect(), cb, n_codes)

    # The visited-cell predicate prunes the partitioned code table at the
    # directory level — the probe never reads an unvisited cell's codes.
    # ``codes_subdir`` lets a maintenance pass (compaction) stage a
    # rewritten layout next to the original and serve probes from it.
    codes = (spark.read.parquet(f"{base}/{codes_subdir}")
             .where(F.col("cell").isin(visited)))
    if tombstones is not None:
        # Logical deletes applied at scan time: a broadcast LEFT ANTI
        # against the (small) delete set — the deletion-vector pattern;
        # the code table itself is never shuffled or rewritten here
        # (the physical rewrite is the purge pass, pinned identical in
        # tests/test_ivfpq_index.py).
        codes = codes.join(F.broadcast(tombstones.select("vec_id")),
                           "vec_id", "left_anti")
    cand = (codes.join(F.broadcast(qcells), "cell")
            .where(F.col("vec_id") != F.col("qid"))
            # multi-assignment means a candidate can match a query via
            # two cells — dedupe before ADC or rn double-counts it
            .dropDuplicates(["qid", "vec_id"])
            .join(F.broadcast(probes), "qid"))
    return pq_adc_topk(codes, probes, vecs, n_codes, rerank, cand=cand)
