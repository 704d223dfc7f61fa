#!/usr/bin/env python
"""Benchmark harness: the repo's one way to time catalog queries.

Env knobs:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default: the CPUs this process
                      may run on)

Modes:
  python bench.py                         # headline set; ONE JSON line
  python bench.py a,b [--repeats N]       # named queries; a line each
  python bench.py a,b --scale 1,2,4,8 [--disjoint]
                                          # fact tables replicated ×K
  python bench.py a,b --explain DIR       # DIR/<name>.txt, no timing

Each query is forced end-to-end with the noop sink (full computation, no
driver collect), after one untimed warm-up, and timed --repeats times
in a registry run each, so what one run cached or staged is released
before the next. The headline line carries {"metric",
"value", "unit", "queries", "queries_median", "total_median", "sf"};
every other timing line is {"query", "scale", "min", "median", "runs"}.
For a core-scaling slope, run the same command under two
SPARK_GRAFT_CPUS values.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from spark_sentiment_spark.plans.registry import (  # noqa: E402
    FACT_KEYS, all_queries, bench_queries, run)

#: Whole-stage codegen is off because at local bench scale (≤600k rows)
#: Janino + HotSpot compilation of fused stage classes is fixed overhead
#: that dwarfs execution (profiled at 30-90 s of driver time a session).
#: On a real cluster codegen amortizes and stays on via the session
#: defaults. perfbench/run.py keeps an identical copy.
BENCH_CONF = {
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    "spark.sql.codegen.wholeStage": "false",
}


def base_dir() -> str:
    """The SF dir every mode reads."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    return sf_dir


def session():
    """local[SPARK_GRAFT_CPUS] (see session.get_spark) under BENCH_CONF."""
    from spark_sentiment_spark import get_spark

    spark = get_spark(extra_conf=BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> None:
    """Execute the full plan without materializing rows on the driver."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, build) -> None:
    """Run `build()` once untimed, then fork the Python worker pool.

    A trivial spark.range warm-up is not enough: the first parquet scan
    and shuffle pay JVM class-loading and reader-init costs that would be
    billed to the first timed query. The first pandas UDF of a session
    forks one worker per core; pay that here too."""
    from pyspark.sql.functions import col, pandas_udf

    with run():
        force(build())
    _warm = pandas_udf(lambda s: s, "double")
    spark.range(spark.sparkContext.defaultParallelism * 4).select(
        _warm(col("id").cast("double"))).collect()


def timed(build, repeats: int) -> dict:
    """Force `build()` `repeats` times; min, median and every run (s).

    The min is the steady-state cost (load spikes on a shared host only
    add time); the median keeps a lucky single run from masking a
    regression."""
    runs = []
    for _ in range(repeats):
        with run():  # one run's caches must not skew the next
            t0 = time.perf_counter()
            force(build())
            runs.append(round(time.perf_counter() - t0, 3))
    return {"min": min(runs), "median": round(statistics.median(runs), 3),
            "runs": runs}


def replicate(spark, base: str, out: str, k: int,
              disjoint: bool = False) -> str:
    """The SF dir ×k; returns the dir to read (`base` itself at k=1).

    Each FACT_KEYS table is crossed with k replicas and re-keyed
    `key*k + rep`, so ids stay distinct and cardinality grows with the
    data; lineitem and orders share the formula, which keeps their join
    intact. Every other table is copied as is (facts grow, dims stay
    fixed). `disjoint` also prefixes every documents token with its
    replica (`r<rep>_`), so replicas share no shingle and near-dup
    structure grows ×k instead of ×k² (identical copies are mutual
    1.0-Jaccard pairs). Replicas are repartitioned to defaultParallelism:
    the crossJoin keeps the base's few input splits, which would
    otherwise land as a few huge files and a straggler-bound scan."""
    if k == 1:
        return base
    os.makedirs(out, exist_ok=True)
    reps = F.broadcast(spark.range(k).withColumnRenamed("id", "__rep"))
    for entry in sorted(os.listdir(base)):
        table = entry.removesuffix(".parquet")
        if table not in FACT_KEYS:
            copy = shutil.copytree if os.path.isdir(f"{base}/{entry}") \
                else shutil.copy
            copy(f"{base}/{entry}", f"{out}/{entry}")
            continue
        key = FACT_KEYS[table]
        df = (spark.read.parquet(f"{base}/{entry}").crossJoin(reps)
              .withColumn(key, F.col(key) * k + F.col("__rep")))
        if disjoint and table == "documents":
            df = df.withColumn("text", F.regexp_replace(
                "text", r"(\S+)",
                F.concat(F.lit("r"), F.col("__rep").cast("string"),
                         F.lit("_$1"))))
        (df.drop("__rep").repartition(spark.sparkContext.defaultParallelism)
         .write.mode("overwrite").parquet(f"{out}/{entry}"))
    return out


def positive(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be ≥ 1: {text}")
    return n


def factors(text: str) -> list[int]:
    """`--scale` values: comma-separated replication factors ≥ 1."""
    return [positive(k) for k in text.split(",")]


def parser() -> argparse.ArgumentParser:
    """The timing flags every bench-driven script shares."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repeats", type=positive, default=3,
                    help="timed runs per query (default 3)")
    ap.add_argument("--scale", type=factors, default=[1], metavar="K,K",
                    help="replication factors (default 1)")
    return ap


def explain(spark, queries, names, sf_dir: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        with run():
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(json.dumps({"query": name, "plan": path,
                          "exchanges": plan.count("Exchange")}), flush=True)


def main() -> None:
    ap = parser()
    ap.add_argument("names", nargs="?", metavar="NAME,NAME",
                    help="catalog queries (default: the headline set)")
    ap.add_argument("--disjoint", action="store_true",
                    help="replicas share no documents token")
    ap.add_argument("--explain", metavar="DIR",
                    help="write each formatted plan to DIR; no timing")
    args = ap.parse_args()
    queries = all_queries()
    names = args.names.split(",") if args.names else list(bench_queries())
    unknown = [n for n in names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if args.explain and args.scale != [1]:
        ap.error("--explain reads the base dir; drop --scale")
    headline = args.names is None and args.scale == [1]
    base = base_dir()

    spark = session()
    if args.explain:
        explain(spark, queries, names, base, args.explain)
        spark.stop()
        return
    warm_up(spark, lambda: queries[names[0]](spark, base))
    stats: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="bench-") as tmp:
        for k in args.scale:
            sf_dir = replicate(spark, base, f"{tmp}/x{k}", k, args.disjoint)
            for name in names:
                stats[name] = timed(lambda: queries[name](spark, sf_dir),
                                    args.repeats)
                if not headline:
                    print(json.dumps({"query": name, "scale": k,
                                      **stats[name]}), flush=True)
    spark.stop()

    if headline:
        try:
            sf = float(os.path.basename(base.rstrip("/")).replace("sf", ""))
        except ValueError:
            sf = -1.0
        timings = {n: s["min"] for n, s in stats.items()}
        medians = {n: s["median"] for n, s in stats.items()}
        print(json.dumps({
            "metric": "headline_queries_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "queries_median": medians,
            "total_median": round(sum(medians.values()), 3),
            "sf": sf,
        }))


if __name__ == "__main__":
    main()
