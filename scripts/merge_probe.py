#!/usr/bin/env python
"""Fixed-delta merge probe for events_scd2_merge_delta (round-9 VERDICT
item 3): grow the HISTORY ×K at a FIXED delta batch and time

  (a) the MERGE against a MATERIALIZED history dimension — the
      production nightly cost (`scd2_merge`), which the docstring
      claims scales with the delta, never the history; and
  (b) the FULL REBUILD (`scd2_dim` over history + delta) — the cost
      the incremental form exists to avoid.

History replicas re-key user_id as id + 10^9 * rep, so replica 0 keeps
the ORIGINAL ids: the fixed delta touches a base-sized slice of a
growing user population (the realistic nightly shape — most of the
dimension is untouched). Timestamps are untouched, so the 70% cutoff is
position-identical at every K.

What linear-in-history residue remains in (a) is the pass-through scan
+ union of the closed dimension (a columnar read with no sort/window
work); a lakehouse MERGE INTO would not even rewrite those files. The
probe demonstrates the merge's GROWTH is that scan, not the O(history
log history) window rebuild: (a)'s slope must sit far below (b)'s.

Appends/replaces the "## Fixed-delta SCD2 merge probe" section at the
END of SCALING.md. Run AFTER deep_probe.py — deep_probe truncates the
file from its own header to EOF when regenerating, so this section
must be re-appended last.

Usage: python scripts/merge_probe.py   (~4 min; uses .mergetmp/, removed)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE_SF = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, ".mergetmp")
# ×512 history ≈ 36M pre-cutoff events: this host's 32 threads chew a
# 9M-row sort+window in ~1.5s of scheduler noise, so the differential
# only emerges past tens of millions of history rows (the ×32 and ×128
# attempts read flat for BOTH paths).
FACTORS = [1, 64, 512]
SECTION = "## Fixed-delta SCD2 merge probe"


def main() -> None:
    from spark_sentiment_spark import get_spark
    from spark_sentiment_spark.operators.scd2 import scd2_dim, scd2_merge
    from spark_sentiment_spark.plans.registry import load

    spark = get_spark(master="local[32]", shuffle_partitions=32,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.driver.memory": "8g",
                                  "spark.sql.codegen.wholeStage": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # registry.load normalizes the base table's TIMESTAMP(NANOS)/NTZ
    # parquet type; the staged replicas below are written from this
    # frame, so their plain spark.read round-trips cleanly.
    ev = load(spark, BASE_SF, "events")
    lo, hi = ev.agg(F.min(F.unix_millis("ts")),
                    F.max(F.unix_millis("ts"))).first()
    cutoff = F.timestamp_millis(F.lit(lo + (hi - lo) * 7 // 10))
    base_hist = ev.where(F.col("ts") < cutoff)
    delta = ev.where(F.col("ts") >= cutoff)
    delta_path = f"{TMP}/delta.parquet"
    delta.repartition(8).write.mode("overwrite").parquet(delta_path)

    results: dict[str, dict[int, dict]] = {"merge": {}, "rebuild": {}}
    try:
        for k in FACTORS:
            # History ×k: replica 0 keeps original user ids so the fixed
            # delta's users EXIST in the open dimension (runs continue /
            # close); other replicas are untouched dimension mass.
            reps = spark.range(k).withColumnRenamed("id", "__rep")
            hist_k = (base_hist.crossJoin(F.broadcast(reps))
                      .withColumn("user_id",
                                  F.col("user_id")
                                  + F.lit(1_000_000_000) * F.col("__rep"))
                      .drop("__rep"))
            hist_path = f"{TMP}/hist_x{k}.parquet"
            dim_path = f"{TMP}/dim_x{k}.parquet"
            hist_k.repartition(32).write.mode("overwrite").parquet(hist_path)
            # Materialize the EXISTING dimension (untimed: in production
            # it already exists — it is last night's output).
            scd2_dim(spark.read.parquet(hist_path)) \
                .write.mode("overwrite").parquet(dim_path)

            def run_merge():
                scd2_merge(spark.read.parquet(dim_path),
                           spark.read.parquet(delta_path)) \
                    .write.format("noop").mode("overwrite").save()

            def run_rebuild():
                scd2_dim(spark.read.parquet(hist_path).unionByName(
                    spark.read.parquet(delta_path))) \
                    .write.format("noop").mode("overwrite").save()

            for label, fn in (("merge", run_merge), ("rebuild", run_rebuild)):
                fn()  # untimed warm run
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn()
                    best = min(best, time.perf_counter() - t0)
                results[label][k] = {"sec": round(best, 3)}
                print(f"x{k} {label}: {best:.2f}s", flush=True)
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
        spark.stop()

    def row(label: str) -> str:
        cells = [f"{results[label][k]['sec']}s" for k in FACTORS]
        r = round(results[label][FACTORS[-1]]["sec"] / results[label][1]["sec"], 1)
        return f"| {label} | " + " | ".join(cells) + f" | {r}× |"

    mr = round(results["merge"][FACTORS[-1]]["sec"] / results["merge"][1]["sec"], 1)
    rr = round(results["rebuild"][FACTORS[-1]]["sec"] / results["rebuild"][1]["sec"], 1)
    lines = [
        SECTION, "",
        "Generated by `scripts/merge_probe.py`: history grows ×K (user_id",
        "re-keyed per replica, replica 0 keeps original ids so the delta's",
        "users exist in the open dimension), the DELTA BATCH IS FIXED at",
        "the base corpus's last 30%, and the existing SCD2 dimension is",
        "MATERIALIZED to parquet before timing — so `merge` times exactly",
        "the nightly increment (`scd2_merge`: delta windows + open-row",
        "join + closed-row pass-through) while `rebuild` times the full",
        "`scd2_dim` window over history+delta that the incremental form",
        "avoids.", "",
        "| path | " + " | ".join(f"×{k} history" for k in FACTORS)
        + " | ×{}/×1 time |".format(FACTORS[-1]),
        "|" + "---|" * (len(FACTORS) + 2),
        row("merge"),
        row("rebuild"),
        "",
        f"Reading: merge {mr}× vs rebuild {rr}× for {FACTORS[-1]}× history",
        "at fixed",
        "delta. The merge's residual growth is the closed-dimension",
        "pass-through scan+union (columnar read, no sort/window state);",
        "in a lakehouse MERGE INTO those untouched files are never",
        "rewritten, so even this residue disappears. The rebuild pays the",
        "full O(history log history) per-user sort+window every night —",
        "the gap is the reason events_scd2_merge_delta exists.",
        "Raw: `" + json.dumps(results) + "`",
    ]

    path = os.path.join(REPO, "SCALING.md")
    text = open(path).read()
    if SECTION in text:  # replace any previous run's section (it is last)
        text = text[: text.index(SECTION)].rstrip() + "\n"
    open(path, "w").write(text.rstrip() + "\n\n" + "\n".join(lines) + "\n")
    print("appended fixed-delta merge section to SCALING.md")


if __name__ == "__main__":
    main()
