#!/usr/bin/env python
"""Oracle sweep: run catalog queries in one SparkSession and compare each
with its DuckDB oracle (row count, schema names, value hash) over the
parquet tables at SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01).
Rows-only queries get a count() smoke run.

Usage:
  python scripts/sweep.py               # the whole catalog
  python scripts/sweep.py --only a,b    # just the named queries

The session is get_spark()'s default (local[SPARK_GRAFT_CPUS]). Per-query
results go to correctness_local.json at the repo root; the last line
printed is a JSON summary. Exit 1 on any oracle mismatch or error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from spark_sentiment_spark import get_spark  # noqa: E402
from spark_sentiment_spark.plans.registry import (REGISTRY,  # noqa: E402
                                                  all_queries, run)
from tests.oracle_utils import compare, duck_connection  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", metavar="NAME,NAME",
                    help="comma-separated query names (default: all)")
    args = ap.parse_args()
    names = list(all_queries())
    if args.only is not None:
        names = [n for n in args.only.split(",") if n]
        unknown = [n for n in names if n not in REGISTRY]
        if unknown or not names:
            sys.exit(f"--only needs registered query names; unknown: "
                     f"{unknown}")

    spark = get_spark(extra_conf={"spark.ui.enabled": "false",
                                  "spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(SF_DIR)
    results: dict[str, dict] = {}
    bad = 0
    t_start = time.perf_counter()
    for name in names:
        q = REGISTRY[name]
        t0 = time.perf_counter()
        try:
            with run():
                if q.sql is None:
                    n = q.fn(spark, SF_DIR).count()
                    results[name] = {"err": "no_oracle", "spark_rows": n}
                    status = f"no_oracle rows={n}"
                else:
                    ok, msg = compare(q.fn(spark, SF_DIR), con, q.sql, name)
                    results[name] = {"ok": ok, "msg": msg}
                    status = "OK" if ok else f"FAIL {msg}"
                    bad += not ok
        except Exception as exc:  # noqa: BLE001
            results[name] = {"err": repr(exc)[:500]}
            status = f"ERROR {exc!r}"
            bad += 1
        print(f"{name:40s} {time.perf_counter() - t0:6.2f}s  {status[:160]}",
              flush=True)
    out = os.path.join(REPO, "correctness_local.json")
    with open(out, "w") as fh:
        json.dump(results, fh, indent=2)
    print(json.dumps({"sf_dir": SF_DIR, "checked": len(names),
                      "failures": bad,
                      "wall_s": round(time.perf_counter() - t_start, 1),
                      "detail": out}))
    con.close()
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
