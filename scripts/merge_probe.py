#!/usr/bin/env python
"""Fixed-delta SCD2 merge probe: grow the events HISTORY ×K at a FIXED
delta batch and time

  merge    `scd2_merge` against a MATERIALIZED history dimension — the
           nightly cost, which should scale with the delta, not the
           history;
  rebuild  `scd2_dim` over history + delta — the full rebuild the
           incremental form exists to avoid.

The delta is the base events' last 30% by timestamp; the history is the
first 70%, replicated with user_id + 10^9 * rep, so replica 0 keeps the
original ids and the delta's users exist in the open dimension. The
merge's residual growth is the pass-through scan of the closed rows, so
its slope should sit far below the rebuild's.

Usage: python scripts/merge_probe.py --scale 1,64,512 [--repeats N]
Session and timing are bench.py's; prints one JSON line per (path,
scale).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from spark_sentiment_spark.operators.scd2 import (scd2_dim,  # noqa: E402
                                                  scd2_merge)
from spark_sentiment_spark.plans.registry import load  # noqa: E402


def main() -> None:
    args = bench.parser().parse_args()
    spark = bench.session()
    # load() normalizes the base table's timestamp type; the staged
    # replicas are written from this frame, so plain reads round-trip.
    ev = load(spark, bench.base_dir(), "events")
    lo, hi = ev.agg(F.min(F.unix_millis("ts")),
                    F.max(F.unix_millis("ts"))).first()
    cutoff = F.timestamp_millis(F.lit(lo + (hi - lo) * 7 // 10))
    with tempfile.TemporaryDirectory(prefix="merge-probe-") as tmp:
        delta_path = f"{tmp}/delta.parquet"
        ev.where(F.col("ts") >= cutoff).write.parquet(delta_path)
        delta = spark.read.parquet(delta_path)
        for k in args.scale:
            reps = F.broadcast(spark.range(k).withColumnRenamed("id", "rep"))
            hist_path, dim_path = f"{tmp}/hist_x{k}", f"{tmp}/dim_x{k}"
            (ev.where(F.col("ts") < cutoff).crossJoin(reps)
             .withColumn("user_id",
                         F.col("user_id") + F.lit(10**9) * F.col("rep"))
             .drop("rep")
             .repartition(spark.sparkContext.defaultParallelism)
             .write.parquet(hist_path))
            # last night's output: materialized untimed
            scd2_dim(spark.read.parquet(hist_path)).write.parquet(dim_path)
            paths = {
                "merge": lambda: scd2_merge(spark.read.parquet(dim_path),
                                            delta),
                "rebuild": lambda: scd2_dim(spark.read.parquet(hist_path)
                                            .unionByName(delta)),
            }
            for label, build in paths.items():
                bench.force(build())  # untimed warm run
                print(json.dumps({"path": label, "scale": k,
                                  **bench.timed(build, args.repeats)}),
                      flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
