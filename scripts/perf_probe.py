#!/usr/bin/env python
"""Dedicated per-query repeat probe under EXACT bench settings.

The five-preview noise study (PLANS.md, round 17) showed a single
min-of-3 full-bench reading elects random movers (individual queries
swing up to ~2.6x run-to-run on this host); the r17 VERDICT item 4
adopts dedicated repeat probes as the only bench adjudication. This
script is that protocol, committed: same session config as bench.py
(local[$SPARK_GRAFT_CPUS], default the CPUs this process may run on;
interpreted mode, noop sink, warm-up, release_caches between runs), N
repeats per named query, prints min/median/all.

Usage:
  python scripts/perf_probe.py q1_pricing_summary,ann_lsh_topk [repeats]
  (default 10 repeats; SPARK_GRAFT_SF_DIR defaults to /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else []
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))

    from spark_sentiment_spark import get_spark
    from spark_sentiment_spark.plans.registry import (all_queries,
                                                      release_caches)

    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if not names or unknown:
        raise SystemExit(f"usage: perf_probe.py name[,name...] [repeats]; "
                         f"unknown: {unknown}")

    # Optional A/B overlay for config experiments (guide §1.2 step 3):
    # JSON dict of extra conf, e.g. '{"spark.sql.join.preferSortMergeJoin":
    # "false"}'. Empty by default so the probe stays the exact bench config.
    overlay = json.loads(os.environ.get("SPARK_GRAFT_PROBE_CONF", "{}"))
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "8g",
            "spark.sql.codegen.wholeStage": "false",
            **overlay,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    # Same warm-up shape as bench.py: one end-to-end query + Python pool.
    _force(qs[names[0]](spark, sf_dir))
    release_caches()
    from pyspark.sql.functions import col, pandas_udf
    _warm = pandas_udf(lambda s: s, "double")
    spark.range(cpus * 4).select(_warm(col("id").cast("double"))).collect()

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
            release_caches()
        out[name] = {"min": min(runs),
                     "median": sorted(runs)[len(runs) // 2],
                     "runs": runs}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"probe": out, "sf_dir": sf_dir, "repeats": repeats}))
    spark.stop()


if __name__ == "__main__":
    main()
