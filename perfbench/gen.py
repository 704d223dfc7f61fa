"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
scale give byte-identical files, so a run's inputs are reproducible from
its ``--seed`` alone. The engine only ever sees the files written here.

* ``catalog_tables`` writes the ten catalog tables (TPC-H-shaped star
  schema plus events, documents and embeddings) with the schemas, row
  counts per scale factor, value domains and distributions of the catalog
  test data the repository's tests and ``bench.py`` read: one
  single-row-group snappy parquet file per table. The README compares the
  two, column by column and query by query.
* ``tweets_csv`` writes a labelled, headerless tweet CSV in the
  Sentiment140 shape (polarity, id, user, text) whose texts fire every
  cleaning rule: retweets, @mentions, #tags, URLs, emoticons and emoji,
  HTML entities, elongations, contractions and quoted commas.
"""

from __future__ import annotations

import csv
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")

_VOCAB = ("the a spark query table join group filter window data order "
          "customer part line fast slow big small hash sort merge scan agg "
          "stream batch vector key value row column").split()
_PART_ADJ = "red blue small large hot cold old new".split()
_PART_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EVENTS_T0 = np.datetime64("2024-01-01", "us")


def _row_counts(sf: float) -> dict[str, int]:
    def n(base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * sf)))

    return {"customer": n(150_000), "supplier": n(10_000),
            "part": n(200_000), "orders": n(1_500_000),
            "lineitem": n(6_000_000), "events": n(1_000_000),
            "users": n(15_000, 10), "documents": n(50_000, 500),
            "embeddings": n(20_000, 500)}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(
        0, len(values), n)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts of 10-99 words drawn uniformly from a 30-word vocabulary. Then
    one document in twenty, picked without replacement, is overwritten by a
    near duplicate: the text of a document picked anywhere in the table (a
    near duplicate already, possibly) plus the word ``dup``, so the dedup
    and similarity queries have matches to find. Three in seven documents
    are ``en``; ``de``, ``fr``, ``es`` and ``zh`` take one in seven each."""
    words = np.asarray(_VOCAB, dtype=object)
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    for i, j in zip(rng.choice(n, n // 20, replace=False),
                    rng.integers(0, n, n // 20)):
        texts[i] = texts[j] + " dup"
    langs = np.asarray(["en", "en", "en", "de", "fr", "es", "zh"],
                       dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Random unit vectors, with labels 0-9 drawn independently of them."""
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, dict]:
    """Write the catalog tables for scale factor ``sf`` under ``out_dir``
    and return ``{table: {"rows": n, "bytes": size}}``."""
    rng = np.random.default_rng(seed)
    c = _row_counts(sf)
    nc, ns, npart, no, nl = (c["customer"], c["supplier"], c["part"],
                             c["orders"], c["lineitem"])
    ts_us = lambda days: (_EPOCH_1995 + days.astype("timedelta64[D]")  # noqa: E731
                          .astype("timedelta64[us]"))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, ["BUILDING", "AUTOMOBILE", "MACHINERY",
                                        "HOUSEHOLD", "FURNITURE"], nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(
                np.asarray(_PART_ADJ)[rng.integers(0, 8, npart)], " "),
                np.asarray(_PART_NOUN)[rng.integers(0, 8, npart)]).tolist()),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                  "ECONOMY", "PROMO"], npart),
            "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(
                900 + (np.arange(npart) % 1000) / 10, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(ts_us(rng.integers(0, 2405, no))),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], no),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2)),
            "l_returnflag": _pick(rng, ["R", "A", "N"], nl),
            "l_linestatus": _pick(rng, ["O", "F"], nl),
            "l_shipdate": pa.array(ts_us(rng.integers(1, 2500, nl))),
        }),
    }
    ne = c["events"]
    # seconds as float, then whole nanoseconds, then whole microseconds
    offsets_us = (np.sort(rng.uniform(0, 30 * 86_400, ne)) * 1e9).astype(
        np.int64) // 1000
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(_EVENTS_T0 + offsets_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, c["users"], ne, dtype=np.int64)),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup",
                                  "error"], ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)]),
    })
    tables["documents"] = _documents(rng, c["documents"])
    tables["embeddings"] = _embeddings(rng, c["embeddings"])

    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name in CATALOG_TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy",
                       row_group_size=max(1, tables[name].num_rows))
        info[name] = {"rows": tables[name].num_rows,
                      "bytes": os.path.getsize(path)}
    return info


_POS = ("good great love happy wonderful awesome nice best excellent amazing "
        "fun beautiful glad perfect enjoy").split()
_NEG = ("bad terrible hate sad awful worst horrible ugly boring poor angry "
        "disappointing sick tired broken").split()
_FILL = ("the movie today was is just really so this that my day work game "
         "phone food night time people weather show bus team music class "
         "weekend coffee").split()
_POS_MARKS = (":)", ":-)", ":D", "<3", "\U0001F600", "\U0001F60D")
_NEG_MARKS = (":(", ":-(", ":'(", "\U0001F622", "\U0001F621")


def _tweet(rng: random.Random, label: int, allow_comma: bool) -> str:
    sentiment = _POS if label else _NEG
    words = [rng.choice(_FILL) for _ in range(rng.randint(4, 14))]
    for _ in range(rng.randint(1, 3)):
        words.insert(rng.randrange(len(words) + 1), rng.choice(sentiment))
    if rng.random() < 0.15:
        w = rng.choice(sentiment)
        words.append(w + w[-1] * rng.randint(2, 4))          # elongation
    if rng.random() < 0.15:
        words.insert(rng.randrange(len(words) + 1),
                     rng.choice(["can't", "don't", "it's", "i'm"]))
    if rng.random() < 0.2:
        words.insert(0, f"RT @user{rng.randrange(500)}:")
    if rng.random() < 0.2:
        words.insert(rng.randrange(len(words) + 1),
                     f"@friend{rng.randrange(300)}")
    if rng.random() < 0.3:
        words.append(f"#tag{rng.randrange(50)}")
    if rng.random() < 0.2:
        words.append(f"http://t.co/{rng.randrange(10 ** 6):06d}")
    if rng.random() < 0.4:
        words.append(rng.choice(_POS_MARKS if label else _NEG_MARKS))
    if rng.random() < 0.15:
        words.insert(rng.randrange(len(words) + 1),
                     rng.choice(["&amp;", "&lt;3", "&quot;so&quot;"]))
    if allow_comma and rng.random() < 0.2:
        words.insert(rng.randrange(len(words) + 1), "well,")
    return " ".join(words)


def tweets_csv(path: str, n: int, seed: int) -> dict:
    """Write ``n`` balanced, labelled tweets and return
    ``{"rows": n, "bytes": size}``.

    Labels are 0 (negative) and 1 (positive).

    The engine's CSV sniffing reads the first two lines (as the reference
    does), so those two carry no quoted comma; every later line may.
    """
    rng = random.Random(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, quoting=csv.QUOTE_NONNUMERIC, lineterminator="\n")
        for i in range(n):
            label = 1 if rng.random() < 0.5 else 0
            w.writerow([label, i, f"user{rng.randrange(200)}",
                        _tweet(rng, label, allow_comma=i > 1)])
    return {"rows": n, "bytes": os.path.getsize(path)}


def main(argv: list[str]) -> int:
    """``gen.py catalog OUT_DIR SF SEED`` or ``gen.py tweets PATH N SEED``:
    write the inputs and print their record as one JSON line. The benchmark
    runs this in a child process, so generating leaves no trace in the
    measured process's memory."""
    kind, out, size, seed = argv
    if kind == "catalog":
        info = catalog_tables(out, float(size), int(seed))
    elif kind == "tweets":
        info = tweets_csv(out, int(size), int(seed))
    else:
        raise SystemExit(f"unknown input kind {kind!r}")
    print(json.dumps(info))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
