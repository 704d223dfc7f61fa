"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

A pass is a closed loop with one client: operations run one at a time, in
a fixed order, each starting when the previous one has returned.

* ``catalog_sf0.1`` — catalog queries over the sf0.1 catalog tables, each
  forced through the ``noop`` sink and followed by ``release_caches()``.
  Fixed per-query cost dominates at this size: driver-side DataFrame
  build, parquet schema inference and planning, and a dozen jobs per
  query.
* ``sentiment_tweets`` — the reference's own use: word-list training, then
  ``analyze()`` by word-score and by our-nlp, each writing parquet. Bound
  by Python/Arrow UDFs and by writes; it bypasses ``registry.load`` and the
  ``noop`` sink. The MLlib path (NaiveBayes training with its grid sweep,
  and ``analyze()`` by mlib) is left out for the run budget: it started 77
  of the 111 jobs of a pass that held it.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import random
import shutil
import subprocess
import sys
import time

#: The catalog queries one pass runs, in name order. A subset of the 25
#: ``bench=True`` queries, chosen so that a run (set-up, cold pass, warm
#: pass and the check's collecting pass) fits the run budget while
#: every catalog layer is exercised: multi-table loads (q5), cached
#: intermediates and mapInPandas (dedup_minhash_lsh), and the
#: documents-plus-embeddings fan-in with the most jobs (hybrid_search_rrf).
#: The three start 50 jobs a pass.
CATALOG_QUERIES = ("dedup_minhash_lsh", "hybrid_search_rrf",
                   "q5_local_supplier")

#: The catalog tables are the same for every run: ``gen.py`` at this seed
#: writes, value for value, the catalog test data the repository's tests and
#: ``bench.py`` read.
CATALOG_SEED = 42

CLEANED_COL = "converted_text"
ANALYZE_METHODS = (("word_score", "word-score"), ("our_nlp", "our-nlp"))


def _prepared(marker: str, key: list, build) -> dict:
    """Run ``build()`` unless ``marker`` records the same key (seed and
    size) already, so inputs are made once per seed and reused across
    runs."""
    if os.path.exists(marker):
        with open(marker) as f:
            done = json.load(f)
        if done.get("key") == key:
            return done["inputs"]
    inputs = build()
    with open(marker, "w") as f:
        json.dump({"key": key, "inputs": inputs}, f)
    return inputs


def _generate(*args) -> dict:
    """Run ``gen.py`` with ``args`` in a child process, so generating leaves
    no trace in the measured process's peak RSS; return the input record it
    prints."""
    gen = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")
    out = subprocess.run([sys.executable, gen, *map(str, args)], check=True,
                         capture_output=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


class Workload:
    name = ""
    #: Whether the check needs one more, untimed pass that collects every
    #: operation's result to the driver; otherwise it reads what the last
    #: pass wrote.
    check_pass = False

    def __init__(self, root: str, work: str, seed: int, smoke: bool):
        self.root, self.work, self.seed, self.smoke = root, work, seed, smoke
        #: the seed the inputs are generated from
        self.input_seed = seed
        tag = self.name + ("-smoke" if smoke else "")
        self.inputs = os.path.join(work, "inputs", tag)
        self.outputs = os.path.join(work, "outputs", tag)

    def prepare(self) -> dict:
        """Generate inputs (outside the timed set-up); return their record."""
        raise NotImplementedError

    def import_engine(self) -> None:
        """Import the engine modules the passes use (part of set-up)."""
        raise NotImplementedError

    def ops(self, tracer) -> list[tuple[str, object]]:
        """``[(op_name, fn(spark, collect) -> result)]`` for one pass."""
        raise NotImplementedError

    def check(self, spark, results: dict) -> dict[str, str]:
        """Check the outputs of the last pass; return ``{op: reason}`` for
        each operation whose output is wrong."""
        raise NotImplementedError

    def sample_texts(self) -> list[str]:
        """Texts for the single-thread ``functions.*`` per-document probes."""
        raise NotImplementedError


class Catalog(Workload):
    name = "catalog_sf0.1"
    check_pass = True

    def __init__(self, *args):
        super().__init__(*args)
        self.sf = 0.001 if self.smoke else 0.1
        self.input_seed = CATALOG_SEED

    def prepare(self) -> dict:
        os.makedirs(self.inputs, exist_ok=True)
        return _prepared(
            os.path.join(self.inputs, "ready.json"), [self.input_seed, self.sf],
            lambda: _generate("catalog", self.inputs, self.sf,
                              self.input_seed))

    def import_engine(self) -> None:
        from spark_sentiment_spark.plans import registry

        queries = registry.bench_queries()
        self.fns = {n: queries[n] for n in CATALOG_QUERIES}
        self.oracles = {n: registry.REGISTRY[n].sql for n in CATALOG_QUERIES}

    def ops(self, tracer):
        from spark_sentiment_spark.plans import registry

        def op(fn):
            def run(spark, collect):
                with tracer.span("plans.build"):
                    df = fn(spark, self.inputs)
                if tracer.enabled:
                    with tracer.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.action"):
                    if collect:
                        out = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        out = None
                registry.release_caches()
                return out
            return run

        return [(name, op(self.fns[name])) for name in CATALOG_QUERIES]

    def check(self, spark, results):
        spec = importlib.util.spec_from_file_location(
            "oracle_utils", os.path.join(self.root, "tests", "oracle_utils.py"))
        oracle_utils = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(oracle_utils)

        class Collected:
            """A collected result in the shape compare() reads."""
            def __init__(self, pdf):
                self.pdf = pdf

            def toPandas(self):
                return self.pdf

        con = oracle_utils.duck_connection(self.inputs)
        bad = {}
        try:
            for name in CATALOG_QUERIES:
                if name not in results:
                    continue
                ok, msg = oracle_utils.compare(
                    Collected(results[name]), con, self.oracles[name], name)
                if not ok:
                    bad[name] = msg
        finally:
            con.close()
        return bad

    def sample_texts(self):
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet"),
                             columns=["text"])
        return docs.column("text").to_pylist()[:300]


class Sentiment(Workload):
    name = "sentiment_tweets"

    def __init__(self, *args):
        super().__init__(*args)
        self.n_tweets = 300 if self.smoke else 1000
        self.csv = os.path.join(self.inputs, "tweets.csv")

    def prepare(self):
        shutil.rmtree(self.outputs, ignore_errors=True)
        os.makedirs(self.inputs, exist_ok=True)
        return _prepared(
            os.path.join(self.inputs, "ready.json"), [self.seed, self.n_tweets],
            lambda: {"tweets.csv": _generate("tweets", self.csv,
                                             self.n_tweets, self.seed)})

    def import_engine(self):
        import spark_sentiment_spark.analyze  # noqa: F401
        import spark_sentiment_spark.functions.text  # noqa: F401
        import spark_sentiment_spark.operators.detection  # noqa: F401
        import spark_sentiment_spark.operators.nlp_model  # noqa: F401
        import spark_sentiment_spark.operators.wordlist_extraction  # noqa: F401
        import spark_sentiment_spark.sources.io  # noqa: F401

    def ops(self, tracer):
        from spark_sentiment_spark import analyze
        from spark_sentiment_spark.functions import text
        from spark_sentiment_spark.operators import (detection,
                                                     wordlist_extraction)
        from spark_sentiment_spark.sources import io

        def train_wordlists(spark, collect):
            """The CLI's word-list training: load with sniffing, detect the
            text column, clean with stemming on, detect the label column,
            save one word list per label."""
            df, _ = io.load(spark, self.csv)
            text_col = detection.detect_text_column(df, 100)
            if text_col is None:
                raise ValueError("no text column detected")
            cleaned = text.clean_source(df, text_col, CLEANED_COL, stem=True)
            label = detection.detect_categorical_column(cleaned, 100)
            if label is None:
                raise ValueError("no label column detected")
            wordlist_extraction.save_wordlists(
                cleaned, CLEANED_COL, label,
                os.path.join(self.outputs, "wordlists"))

        def analyzer(method):
            def run(spark, collect):
                analyze.analyze(spark, self.csv, method=method, stem=True,
                                output=os.path.join(self.outputs, method))
            return run

        return ([("train_wordlists", train_wordlists)]
                + [(f"analyze_{key}", analyzer(method))
                   for key, method in ANALYZE_METHODS])

    def check(self, spark, results):
        import pyarrow.parquet as pq

        bad = {}
        words = {}
        for cat_dir in sorted(glob.glob(os.path.join(self.outputs, "wordlists",
                                                     "*"))):
            lines = []
            for part in glob.glob(os.path.join(cat_dir, "part-*")):
                with open(part, encoding="utf-8") as f:
                    lines += [ln for ln in f.read().split("\n") if ln]
            words[os.path.basename(cat_dir)] = lines
        if sorted(words) != ["0", "1"] or not all(words.values()):
            bad["train_wordlists"] = (
                f"expected non-empty word lists for labels 0 and 1, got "
                f"{ {k: len(v) for k, v in words.items()} }")

        def scored(method, allowed=None):
            table = pq.read_table(os.path.join(self.outputs, method))
            if table.num_rows != self.n_tweets:
                return f"{table.num_rows} rows, expected {self.n_tweets}"
            if allowed is not None:
                values = set(table.column("computed").to_pylist())
                if not values <= allowed:
                    return f"classes {sorted(values)} outside {sorted(allowed)}"
            return None

        for key, method, allowed in (
                ("our_nlp", "our-nlp", {0, 1, 2, 3, 4}),
                ("word_score", "word-score", None)):
            reason = scored(method, allowed)
            if reason:
                bad[f"analyze_{key}"] = reason
        if "analyze_word_score" not in bad:
            reason = self._check_word_scores(spark)
            if reason:
                bad["analyze_word_score"] = reason
        return bad

    def _check_word_scores(self, spark, n: int = 200) -> str | None:
        """Word-scores of a seeded sample against the driver-side
        transcription of the reference's computeSentiment."""
        from pyspark.sql import functions as F

        from spark_sentiment_spark.functions.text import clean_text_col
        from spark_sentiment_spark.operators.wordscore import \
            compute_sentiment_py

        ids = random.Random(self.seed).sample(range(self.n_tweets),
                                              min(n, self.n_tweets))
        rows = (spark.read.parquet(os.path.join(self.outputs, "word-score"))
                .where(F.col("_c1").isin(ids))
                .select("_c1", clean_text_col(CLEANED_COL).alias("clean"),
                        "computed")
                .collect())
        if len(rows) != len(ids):
            return f"sampled {len(rows)} of {len(ids)} rows"
        for r in rows:
            want = compute_sentiment_py(r["clean"])
            if abs(r["computed"] - want) > 1e-9:
                return f"tweet {r['_c1']}: {r['computed']} != {want}"
        return None

    def sample_texts(self):
        import csv

        with open(self.csv, encoding="utf-8", newline="") as f:
            return [row[3] for row in csv.reader(f)][:300]


WORKLOADS = {w.name: w for w in (Catalog, Sentiment)}


def per_doc_us(texts: list[str]) -> dict[str, float]:
    """Single-thread microseconds per document of the Python kernels the
    sentiment UDFs run on workers: tokenizing, stemming and NLP
    prediction."""
    from spark_sentiment_spark.functions.stemmer import stem_tokens
    from spark_sentiment_spark.functions.tokenizer import tokenize_to_string
    from spark_sentiment_spark.operators.nlp_model import model_scorer_factory

    extract = model_scorer_factory()
    out = {}
    for key, fn in (("tokenize", tokenize_to_string), ("stem", stem_tokens),
                    ("nlp_predict", extract)):
        t0 = time.perf_counter()
        for t in texts:
            fn(t)
        out[key] = (time.perf_counter() - t0) / max(1, len(texts)) * 1e6
    return out
