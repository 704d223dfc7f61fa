"""MinHash-LSH kernels shared by the batch, incremental, bucketed and
streaming near-dup queries, and the DuckDB twins of their oracles.

The base hash is md5-derived and the permutation constants are generated
once for both engines, so Spark and DuckDB compute identical signatures,
band buckets and estimates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def shingled(docs):
    """(doc_id, shingle) rows: 3-word shingles over the lowercased text (whole
    text as a single shingle when shorter than 3 tokens) — the unit set for
    Jaccard/MinHash. The token array is projected ONCE and indexed inside the
    transform lambda (t[i..i+2]); slicing a freshly re-split array per
    position would be O(len²) per document."""
    toks = F.split(F.lower(F.col("text")), " ", -1)
    sh = F.when(
        F.size(F.col("__t")) >= 3,
        F.expr(
            "transform(sequence(0, size(__t) - 3),"
            " i -> concat(__t[i], ' ', __t[i + 1], ' ', __t[i + 2]))"
        ),
    ).otherwise(F.array(F.array_join(F.col("__t"), " ")))
    return (
        docs.select("doc_id", toks.alias("__t"))
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("w"))
    )


MINHASH_P = (1 << 31) - 1  # Mersenne prime: a*h+b < 2^62, safe in int64

# The catalog's MinHash-LSH shape: 32 permutations in 8 bands of 4 rows,
# seeded so both engines draw the same constants; a candidate pair is a
# near-dup when at least half of its minhashes agree.
N_HASHES = 32
N_BANDS = 8
SEED = 42
THRESHOLD = 0.5


def perm_constants(n_hashes: int = N_HASHES):
    """The first ``n_hashes`` (a_i, b_i) permutation constants — shared by
    the Spark signature stage AND the generated DuckDB oracle SQL, so both
    engines compute the *identical* signatures."""
    import random

    rng = random.Random(SEED)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
            for _ in range(n_hashes)]


def minhash_signatures(docs, n_hashes: int = N_HASHES):
    """(doc_id, mh0..mh{n-1}) MinHash signature rows via ``mapInPandas``: each
    document's 3-word shingle set and all n mins are computed LOCALLY
    inside its Arrow batch (one k×n numpy outer-product min per doc), so
    the token stream is never materialized as rows and never SHUFFLED —
    the per-doc form is embarrassingly parallel. Deterministic permutation
    parameters (fixed seed); the base hash is the first 8 hex chars of
    md5(shingle) masked to 31 bits — engine-independent (DuckDB computes
    the same value as ('0x'||substr(md5(w),1,8))::BIGINT & 0x7FFFFFFF),
    which is what makes the exact-hash oracle possible."""
    import hashlib

    import numpy as np

    p = MINHASH_P
    perms = perm_constants(n_hashes)
    A = np.array([a for a, _ in perms], dtype=np.int64)
    B = np.array([b for _, b in perms], dtype=np.int64)

    sig_schema = "doc_id long, " + ", ".join(
        f"mh{i} long" for i in range(n_hashes))

    def _signatures(batches):
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.lower().split(" ")
                if len(toks) >= 3:
                    sh = {" ".join(toks[i:i + 3])
                          for i in range(len(toks) - 2)}
                else:
                    sh = {" ".join(toks)}
                h = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                     & 0x7FFFFFFF for s in sh),
                    dtype=np.int64, count=len(sh))
                sigs.append(((h[:, None] * A + B) % p).min(axis=0))
                ids.append(doc_id)
            S = np.vstack(sigs) if sigs else np.empty((0, n_hashes), np.int64)
            yield pd.DataFrame(
                {"doc_id": ids,
                 **{f"mh{i}": S[:, i] for i in range(n_hashes)}})

    return docs.select("doc_id", "text").mapInPandas(_signatures, sig_schema)


def band_keys(n_hashes: int, n_bands: int) -> Column:
    """The per-band bucket keys of a signature row (columns
    ``mh0..``) as an array, band i at index i. The key is the
    '-'-joined minhash tuple itself (exact band equality, zero collision
    risk) rather than a second-level hash — and, being plain decimal
    strings, it is engine-independent, so the DuckDB oracle reproduces
    the buckets bit-for-bit."""
    rpb = n_hashes // n_bands
    return F.array(*[
        F.concat_ws("-", *[F.col(f"mh{band * rpb + r}")
                           for r in range(rpb)])
        for band in range(n_bands)])


def band_buckets(mins, n_hashes: int, n_bands: int):
    """(doc_id, band_id, bh) LSH banding rows via a single posexplode — no
    n_bands-way union. Docs sharing any (band_id, bh) bucket are
    candidate pairs; the bucket join is the LSH scale path (no all-pairs
    product)."""
    return mins.select(
        "doc_id", F.posexplode(band_keys(n_hashes, n_bands))
        .alias("band_id", "bh"))


def est_jaccard(a: str, b: str, n_hashes: int) -> Column:
    """Signature-agreement Jaccard estimate of two signatures held in
    columns ``{a}0..`` and ``{b}0..``, rounded to 4 dp."""
    agree = sum(F.when(F.col(f"{a}{i}") == F.col(f"{b}{i}"), 1).otherwise(0)
                for i in range(n_hashes))
    return F.round(agree / F.lit(float(n_hashes)), 4)


def band_pairs(bands):
    """Distinct (doc_a, doc_b) pairs, doc_a < doc_b, that share any
    (band_id, bh) bucket of a `band_buckets` frame — the bucket-local LSH
    candidate join, no all-pairs product."""
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def scored_pairs(cand, sigs, n_hashes: int, *extra):
    """The (doc_a, doc_b) candidates whose signatures in ``sigs``
    (doc_id, mh0..) agree on at least ``THRESHOLD`` of the minhashes, as
    (doc_a, doc_b, est_jaccard, *extra)."""
    am, bm = sigs.alias("am"), sigs.alias("bm")
    return (cand.join(am, F.col("doc_a") == F.col("am.doc_id"))
            .join(bm, F.col("doc_b") == F.col("bm.doc_id"))
            .select("doc_a", "doc_b",
                    est_jaccard("am.mh", "bm.mh", n_hashes)
                    .alias("est_jaccard"), *extra)
            .where(F.col("est_jaccard") >= THRESHOLD))


def lsh_cand_sql(tail: str, cand_where: str = "") -> str:
    """DuckDB twin of the MinHash-LSH candidate stage, generated from the
    SAME permutation constants as the Spark signature stage: md5-derived
    31-bit shingle hashes → (a*h+b) mod p mins (``sig``) → '-'-joined band
    keys → bucket self-join (``cand``, narrowed by ``cand_where``). Every
    step is engine-independent, so the value-hash check is exact. ``tail``
    follows ``cand``'s closing paren: further CTEs or the final SELECT,
    scoring pairs with `est_jaccard_sql`."""
    p = MINHASH_P
    perms = perm_constants()
    mh_cols = ",\n         ".join(
        f"min((h * {a} + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(perms))
    rpb = N_HASHES // N_BANDS
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {band} AS band_id, concat_ws('-', "
        + ", ".join(f"mh{band * rpb + r}" for r in range(rpb))
        + ") AS bh FROM sig"
        for band in range(N_BANDS))
    where = f"\n  WHERE {cand_where}" if cand_where else ""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> array_to_string(t[i:i+2], ' '))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), shd AS (
  SELECT DISTINCT doc_id, unnest(shingles) AS w FROM sh
), hv AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT & 2147483647 AS h
  FROM shd
), sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM hv GROUP BY doc_id
), bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id{where}
){tail}"""


def est_jaccard_sql() -> str:
    """Signature-agreement Jaccard estimate of a ``cand`` pair joined to
    ``sig`` as ``sa``/``sb``, rounded like the Spark side."""
    agree = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
                       for i in range(N_HASHES))
    return f"round(({agree}) / {float(N_HASHES)}, 4)"


def minhash_oracle_sql(cand_where: str = "", extra_cols: str = "") -> str:
    """DuckDB twin of the full MinHash-LSH pipeline: every candidate pair
    (narrowed by ``cand_where``) whose estimate clears ``THRESHOLD``."""
    est = est_jaccard_sql()
    return lsh_cand_sql(f"""
SELECT doc_a, doc_b,
       {est} AS est_jaccard{extra_cols}
FROM cand
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
WHERE {est} >= {THRESHOLD}
ORDER BY doc_a, doc_b
""", cand_where)


def probe_minhash_oracle_sql() -> str:
    """DuckDB twin of the BUCKETED band-index probe: the full-corpus LSH
    pipeline restricted to pairs with EXACTLY ONE side in the incoming
    batch (doc_id%5=4) — the new-vs-old probe set; new-vs-new pairs belong
    to the batch self-join, old-vs-old to earlier batches."""
    return minhash_oracle_sql(
        cand_where="(a.doc_id % 5 = 4) <> (b.doc_id % 5 = 4)")
