#!/usr/bin/env python3
"""The repository benchmark: one workload per run, on ``local[nproc]``.

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 \\
        --seconds 20 --trace 0

A run generates its inputs from ``--seed`` in a child process (outside
the timed set-up), sets up a session, times one full pass as the cold pass,
then repeats timed warm passes for about ``--seconds``. A fixed reference
job that runs no engine code is timed before and after every warm pass,
and a pass is reported as its wall time over the mean of those two, so
that the host's speed, which drifts on a shared machine, cancels out. The
catalog runs one untimed pass between the cold and the warm passes that
collects every result; the outputs are checked after the passes, outside
the memory measurement. The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it records the host, the
session settings, the inputs and every raw time.

With ``--trace 1`` warm passes alternate between untraced and traced. A
traced pass wraps the engine's public functions to record spans, reads
Spark's accounting after each operation and profiles Python UDFs; its
spans are written under ``perfbench/_work/runs/``. ``--smoke`` shrinks the
inputs (sf0.001, 300 tweets) for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: The session settings of the repo's headline bench (bench.py), so results
#: stay comparable with its numbers: UI off, 8g driver, interpreted
#: whole-stage codegen. Parallelism and shuffle partitions follow nproc.
BENCH_CONF = {
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    "spark.sql.codegen.wholeStage": "false",
}

#: Python-node and task accounting the traced passes add up, by the name of
#: their per-layer metric.
SPARK_KEYS = ("jobs", "stages", "stages_skipped", "tasks", "task_failures",
              "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_disk_bytes", "input_bytes",
              "output_bytes")
PYTHON_KEYS = ("rows_sent", "bytes_sent", "bytes_received")

#: Driver-side public functions a traced pass wraps, by module.
WRAPPED = {
    "spark_sentiment_spark.plans.registry": (
        "load", "track_persist", "track_staging_dir", "track_temp_table",
        "release_caches"),
    "spark_sentiment_spark.sources.io": (
        "load", "save", "load_csv", "find_delimiter", "has_header",
        "detect_escape"),
    "spark_sentiment_spark.operators.detection": (
        "detect_text_column", "detect_categorical_column",
        "detect_value_column", "convert_categorical_column"),
    "spark_sentiment_spark.operators.wordlist_extraction": (
        "extract_wordlists", "save_wordlists"),
    "spark_sentiment_spark.operators.wordscore": ("score_documents",),
    "spark_sentiment_spark.operators.nlp_sentiment": ("score_nlp",),
    "spark_sentiment_spark.functions.text": ("clean_source",),
    "spark_sentiment_spark.analyze": ("analyze",),
}
SNIFF = ("sources.io.find_delimiter", "sources.io.has_header",
         "sources.io.detect_escape")


def _layer_name(module: str, attr: str) -> str:
    return f"{module.removeprefix('spark_sentiment_spark.')}.{attr}"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine whatever the working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _session_conf() -> dict:
    conf = dict(BENCH_CONF)
    conf["spark.local.dir"] = os.path.join(WORK, "spark-local")
    conf["spark.ui.showConsoleProgress"] = "false"
    return conf


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=60)
        lines = (out.stderr + out.stdout).splitlines()
        return next(ln for ln in lines if "version" in ln)
    except (OSError, subprocess.SubprocessError, StopIteration):
        return "unknown"


class Run:
    """Runs passes of one workload and counts attempted and failed
    operations across them. An attempt is one operation in one pass; it
    fails when it raises or when the check finds its output wrong."""

    def __init__(self, workload, tracer):
        self.workload, self.tracer = workload, tracer
        self.passes = self.attempted = 0
        #: (pass, operation) of every failed attempt
        self.failed_attempts: set[tuple[int, str]] = set()
        #: the first reason each failing operation gave
        self.failed_ops: dict[str, str] = {}
        self.acct = None
        self.last_results: dict = {}
        #: per pass, each operation's wall seconds
        self.op_walls: list[dict[str, float]] = []

    def fail(self, name: str, reason: str, pass_no: int | None = None) -> None:
        """Count the attempt of ``name`` in pass ``pass_no`` (the last pass
        by default) as failed."""
        pass_no = self.passes - 1 if pass_no is None else pass_no
        self.failed_attempts.add((pass_no, name))
        self.failed_ops.setdefault(name, reason)

    # -- one pass -------------------------------------------------------------
    def run_pass(self, spark, collect: bool = False, traced: bool = False):
        """Run every operation once; return (wall seconds, results,
        per-op accounting)."""
        tracer = self.tracer
        tracer.enabled = traced
        results, per_op, walls = {}, {}, {}
        acct_s = 0.0  # reading Spark's accounting, left out of the pass time
        pass_no = self.passes
        self.passes += 1
        t0 = time.perf_counter()
        for i, (name, fn) in enumerate(self.workload.ops(tracer)):
            self.attempted += 1
            if traced:
                ta = time.perf_counter()
                self.acct.drain()
                j0, e0 = self.acct.job_mark(), self.acct.exec_mark()
                acct_s += time.perf_counter() - ta
                tracer.op = i
                root = tracer.open(f"op.{name}")
                tracer.op_root = root.id
            t_op = time.perf_counter()
            try:
                results[name] = fn(spark, collect)
            except Exception:  # one failed operation must not end the run
                self.fail(name, traceback.format_exc(limit=3), pass_no)
                print(f"operation {name} failed:\n{traceback.format_exc()}",
                      file=sys.stderr)
            finally:
                walls[name] = time.perf_counter() - t_op
                if traced:
                    tracer.close(root)
                    tracer.op = tracer.op_root = None
            if traced:
                ta = time.perf_counter()
                self.acct.drain()
                j1, e1 = self.acct.job_mark(), self.acct.exec_mark()
                per_op[name] = {
                    "wall_s": root.end - root.start,
                    **self.acct.jobs_between(j0, j1),
                    **{f"python_{k}": v for k, v in
                       self.acct.python_nodes_between(e0, e1).items()},
                }
                acct_s += time.perf_counter() - ta
        wall = time.perf_counter() - t0 - acct_s
        tracer.enabled = False
        self.last_results = results
        self.op_walls.append(walls)
        return wall, results, per_op


def _warm_workers(spark, nproc: int) -> None:
    """The first pandas UDF of a session forks one Python worker per core;
    pay that in set-up, as bench.py does."""
    from pyspark.sql.functions import col, pandas_udf

    warm = pandas_udf(lambda s: s, "double")
    spark.range(nproc * 4).select(warm(col("id").cast("double"))).collect()


def _reference_s(spark, nproc: int, runs: int = 2) -> float:
    """Wall seconds of a fixed job that runs no engine code, under pinned
    settings: ``runs`` shuffles over ``spark.range`` through a pandas UDF on
    every core. Timed before and after a pass, it gives the host's speed
    while the pass ran."""
    from pyspark.sql import functions as F

    pinned = {"spark.sql.adaptive.enabled": "false",
              "spark.sql.shuffle.partitions": str(nproc),
              "spark.sql.execution.arrow.maxRecordsPerBatch": "10000"}
    saved = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    double = F.pandas_udf(lambda s: s * 2.0, "double")
    t0 = time.perf_counter()
    for _ in range(runs):
        (spark.range(0, 200_000 * nproc, numPartitions=nproc)
         .select((F.col("id") % 997).alias("k"),
                 double(F.col("id").cast("double")).alias("v"))
         .groupBy("k").agg(F.sum("v"), F.count("*"))
         .write.format("noop").mode("overwrite").save())
    wall = time.perf_counter() - t0
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    return wall


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit. The JVM quits when
    its stdin closes, which otherwise happens only as this process exits,
    so it would outlive the run for a moment."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _udf_profile_s(spark, dump_dir: str) -> float:
    """Seconds inside Python UDF bodies since the last call, from the
    built-in ``perf`` UDF profiler; clears the profiles it read."""
    import pstats

    os.makedirs(dump_dir, exist_ok=True)
    for f in os.listdir(dump_dir):
        os.remove(os.path.join(dump_dir, f))
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for f in os.listdir(dump_dir):
        total += pstats.Stats(os.path.join(dump_dir, f)).total_tt
    spark.profile.clear(type="perf")
    return total


def layer_metrics(tracer, per_op: dict, wall: float,
                  slots: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass, from its spans and the
    per-operation Spark accounting."""
    import tracing as tr
    from workloads import CATALOG_QUERIES

    spans = tracer.spans
    named = lambda n: (lambda s: s.name == n)  # noqa: E731
    m: dict[str, float] = {}
    m["plans.build_s"] = tr.outermost_total(spans, named("plans.build"))
    m["plans.load_s"] = tr.outermost_total(
        spans, named("plans.registry.load"))
    m["plans.load_calls"] = tracer.counts.get("plans.registry.load", 0)
    m["plans.eager_jobs"] = sum(s.jobs for s in spans
                                if s.name == "plans.build")
    m["plans.release_s"] = tr.outermost_total(
        spans, named("plans.registry.release_caches"))
    m["plans.persist_calls"] = tracer.counts.get(
        "plans.registry.track_persist", 0)
    m["plans.staged_dirs"] = tracer.counts.get(
        "plans.registry.track_staging_dir", 0)
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = sum(op[k] for op in per_op.values())
    m["spark.slot_busy_ratio"] = m["spark.task_run_s"] / (wall * slots)
    m["spark.plan_s"] = tr.outermost_total(spans, named("spark.plan"))
    for k in PYTHON_KEYS:
        m[f"python.{k}"] = sum(op[f"python_{k}"] for op in per_op.values())
    m["sources.load_s"] = tr.outermost_total(spans, named("sources.io.load"))
    m["sources.sniff_jobs"] = sum(s.jobs for s in spans if s.name in SNIFF)
    m["operators.detect_s"] = tr.outermost_total(
        spans, lambda s: s.name.startswith("operators.detection."))
    m["sources.save_s"] = tr.outermost_total(spans, named("sources.io.save"))
    m["operators.train_wordlists_s"] = tr.outermost_total(
        spans, named("operators.wordlist_extraction.save_wordlists"))
    for key in ("word_score", "our_nlp"):
        m[f"operators.analyze_{key}_s"] = per_op.get(
            f"analyze_{key}", {}).get("wall_s", 0.0)
    for name in CATALOG_QUERIES:
        m[f"query.{name}_s"] = per_op.get(name, {}).get("wall_s", 0.0)
        m[f"query.{name}_jobs"] = per_op.get(name, {}).get("jobs", 0.0)
    selfs = tr.self_times(spans)
    # Share of the operations' time that the layer spans under them cover:
    # time spent in code no wrapper reaches shows up as a shortfall.
    ops = [s for s in spans if s.parent is None and s.name.startswith("op.")]
    m["trace.layer_coverage"] = 1.0 - (sum(selfs[s.id] for s in ops)
                                       / sum(s.end - s.start for s in ops))
    for layer in ("op", "plans", "spark", "sources", "operators",
                  "functions", "analyze"):
        m[f"self.{layer}_s"] = sum(
            t for sid, t in selfs.items()
            if spans[sid].name.split(".", 1)[0] == layer)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spark_sentiment_spark")):
        print(f"no engine package next to {HERE}; run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    _environment()
    sys.path.insert(0, HERE)
    import tracing as tr
    from workloads import WORKLOADS, per_doc_us

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    nproc = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload](ROOT, WORK, args.seed, args.smoke)
    inputs = workload.prepare()

    tracer = tr.Tracer(enabled=False)
    run = Run(workload, tracer)
    conf = _session_conf()
    untraced, traced, spark = [], None, None
    try:
        # The memory window holds set-up and the passes. The check after it
        # runs DuckDB in this process, which is the benchmark's work, not the
        # engine's.
        with tr.PeakRss() as rss:
            t0 = time.perf_counter()
            from spark_sentiment_spark import session

            t1 = time.perf_counter()
            spark = session.get_spark(
                app_name="perfbench", master=f"local[{nproc}]",
                shuffle_partitions=nproc, extra_conf=conf)
            t_session = time.perf_counter() - t1
            spark.sparkContext.setLogLevel("ERROR")
            workload.import_engine()
            _warm_workers(spark, nproc)
            _reference_s(spark, nproc, runs=1)  # its own warm-up
            setup_s = time.perf_counter() - t0

            cold_s = run.run_pass(spark)[0]
            # Each warm pass sits between two timings of the reference job;
            # a pass's time over their mean cancels the host's speed.
            refs = [_reference_s(spark, nproc)]
            if workload.check_pass:
                # Untimed, it collects every result for the check and lets
                # the JIT settle further before the timed passes.
                check_no = run.passes
                checked = run.run_pass(spark, collect=True)[1]
                refs.append(_reference_s(spark, nproc))
            pass_refs = []
            if args.trace:
                run.acct = tr.SparkAccounting(spark)
                tracer.job_mark = run.acct.job_mark
                for module, attrs in WRAPPED.items():
                    mod = importlib.import_module(module)
                    for attr in attrs:
                        tracer.wrap(mod, attr, _layer_name(module, attr))
                # One traced pass between two untraced ones, so the JIT
                # warm-up still going on across passes cancels out of the
                # tracing overhead.
                untraced.append(run.run_pass(spark)[0])
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                wall, _, per_op = run.run_pass(spark, traced=True)
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
                m = layer_metrics(tracer, per_op, wall, nproc)
                m["python.udf_s"] = _udf_profile_s(
                    spark, os.path.join(WORK, "tmp", "udf-profile"))
                traced = (wall, m, per_op)
                untraced.append(run.run_pass(spark)[0])
            else:
                window_t0 = time.perf_counter()
                while True:
                    untraced.append(run.run_pass(spark)[0])
                    refs.append(_reference_s(spark, nproc))
                    pass_refs.append(
                        untraced[-1] / statistics.mean(refs[-2:]))
                    elapsed = time.perf_counter() - window_t0
                    if (elapsed + 0.5 * statistics.median(untraced)
                            > args.seconds):
                        break
        tracer.unwrap_all()

        if not workload.check_pass:
            check_no, checked = run.passes - 1, run.last_results
        try:
            wrong = workload.check(spark, checked)
        except Exception:  # a broken check fails every operation
            wrong = {n: traceback.format_exc(limit=3)
                     for n, _ in workload.ops(tracer)}
        for name, reason in wrong.items():
            print(f"wrong output from {name}: {reason}", file=sys.stderr)
            run.fail(name, reason, check_no)
        if args.trace:
            texts = workload.sample_texts()
    finally:
        if spark is not None:
            _stop(spark)
    import pyspark

    failed = len(run.failed_attempts)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "smoke": args.smoke, "seconds": args.seconds,
        "host": {"nproc": nproc, "master": f"local[{nproc}]",
                 "platform": platform.platform(),
                 "python": platform.python_version(),
                 "pyspark": pyspark.__version__, "java": _java_version()},
        "session_conf": conf, "input_seed": workload.input_seed,
        "inputs": inputs,
        "session_s": t_session, "setup_s": setup_s, "cold_pass_s": cold_s,
        "untraced_passes_s": untraced,
        "op_s_by_pass": run.op_walls, "reference_s": refs,
        "traced_pass_s": traced[0] if traced else None,
        "peak_rss_mb": rss.mib(jvm=False), "jvm_peak_rss_mb": rss.mib(jvm=True),
        "peak_rss_mb_by_process": rss.by_process(),
        "failed_ops": run.failed_ops,
    }
    if args.trace:
        wall, per_layer, per_op = traced
        per_layer["session.get_spark_s"] = t_session
        per_layer["host.reference_s"] = statistics.median(refs)
        per_layer["cold_pass_s"] = cold_s
        for k, v in per_doc_us(texts).items():
            per_layer[f"functions.{k}_us_per_doc"] = v
        per_layer["trace.pass_s"] = wall
        per_layer["trace.untraced_pass_s"] = statistics.mean(untraced)
        per_layer["trace.overhead_ratio"] = (
            wall / per_layer["trace.untraced_pass_s"] - 1.0)
        per_layer["ops.failed_ratio"] = failed / run.attempted
        per_layer["memory.jvm_peak_rss_mb"] = rss.mib(jvm=True)
        spans_out = os.path.join(
            WORK, "runs", f"{args.workload}-seed{args.seed}-spans.json")
        os.makedirs(os.path.dirname(spans_out), exist_ok=True)
        with open(spans_out, "w") as f:
            json.dump({"record": record, "metrics": per_layer,
                       "per_op": per_op,
                       "spans": [s.__dict__ for s in tracer.spans]}, f)
        record["spans_file"] = os.path.relpath(spans_out, ROOT)
        specs = bench["per_layer"]
        values = per_layer
    else:
        specs = bench["end_to_end"]
        values = {"setup_s": setup_s,
                  "pass_ref": statistics.median(pass_refs),
                  "peak_rss_mb": rss.mib(jvm=False)}
    metrics = {s["name"]: {"value": float(values[s["name"]]),
                           "unit": s["unit"]} for s in specs}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
