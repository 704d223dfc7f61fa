#!/usr/bin/env python
"""The pre-commit fast loop, sharded across concurrent pytest PROCESSES
(round-12 VERDICT item 4: get `pytest -m "not slow"` under ~480 s;
pytest-xdist is not in this environment, so sharding is process-level).

Four shards run concurrently, each with its own Spark session
(local[4] apiece — 16 cores total on the 32-core host) and its own
warehouse/Derby home (embedded Derby allows one metastore per
directory; see tests/conftest.py):

  1. tests/test_oracle.py with SPARK_GRAFT_ORACLE_SHARD=0/2
  2. tests/test_oracle.py with SPARK_GRAFT_ORACLE_SHARD=1/2
  3. the heaviest non-oracle files (REST_HEAVY)
  4. everything else

Wall time ≈ the slowest shard instead of the serial sum. Coverage is
IDENTICAL to `pytest tests/ -m "not slow"`: the oracle-shard env var
only partitions the sweep's parametrize list (md5(name) % 2), and no
oracle sweep param carries the slow mark. A plain `pytest tests/` run
is untouched (no env vars set → no sharding, stock layout).

Usage: python scripts/fast_loop.py [extra pytest args…]
Exit code: non-zero if ANY shard fails; each shard's tail is printed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The heaviest non-oracle files (measured with --durations=0 on a
# quiet host, round 13: properties 79s, round11 54s, plan_shape 44s,
# round10 35s, streaming 32s ≈ 244s of the rest-shard's 495s attributed
# total) split off into their own shard so "rest" is no longer the
# 580s straggler behind two 190s oracle shards. Re-measure and
# rebalance when a shard exceeds ~350s.
REST_HEAVY = [
    "tests/test_properties.py",
    "tests/test_round11_queries.py",
    "tests/test_plan_shape.py",
    # moved when the round-13 staged-index tests pushed "rest" to the
    # ~350s threshold (round13 file ≈ 50s: two-SF oracle compares +
    # streaming trigger + two staged-artifact probes)
    "tests/test_round13_queries.py",
]

# Round-14 rebalance: the round-14 additions pushed rest-heavy to 358s
# while the oracle shards ran 120-175s — streaming (32s) and round10
# (35s) ride along with the oracle shards (separate pytest processes,
# so a file just adds its own time), bringing rest-heavy back to ~290s
# behind rest's ~310-330s straggler.
# Round-15 rebalance: round14/round15 query files (two-SF compares +
# staged-index probes, ~60s/~40s) moved from "rest" (the 357s straggler
# this round) onto the ~120-175s oracle shards — rest back to ~260s
# behind rest-heavy's ~300s.
# Round-16: the round16 query file (~2 min: staged-index lifecycle runs
# + a drifted-occupancy corpus) rides oracle-0/2 like the round14/15
# files did, keeping "rest" off the straggler path.
SHARDS = [
    ("oracle-0/2", ["tests/test_oracle.py", "tests/test_streaming.py",
                    "tests/test_round14_queries.py",
                    "tests/test_round16_queries.py"],
     {"SPARK_GRAFT_ORACLE_SHARD": "0/2"}),
    ("oracle-1/2", ["tests/test_oracle.py", "tests/test_round10_queries.py",
                    "tests/test_round15_queries.py"],
     {"SPARK_GRAFT_ORACLE_SHARD": "1/2"}),
    ("rest-heavy", REST_HEAVY, {}),
    ("rest", ["tests", "--ignore=tests/test_oracle.py",
              "--ignore=tests/test_streaming.py",
              "--ignore=tests/test_round10_queries.py",
              "--ignore=tests/test_round14_queries.py",
              "--ignore=tests/test_round15_queries.py",
              "--ignore=tests/test_round16_queries.py",
              *[f"--ignore={f}" for f in REST_HEAVY]], {}),
]


def main() -> int:
    extra = sys.argv[1:]
    procs = []
    t0 = time.perf_counter()
    for label, targets, env_add in SHARDS:
        shard_dir = tempfile.mkdtemp(prefix=f"fastloop_{label.replace('/', '_')}_")
        env = dict(os.environ,
                   SPARK_GRAFT_TEST_SHARD_DIR=shard_dir, **env_add)
        log = open(os.path.join(shard_dir, "pytest.log"), "w")
        p = subprocess.Popen(
            [sys.executable, "-m", "pytest", *targets,
             "-m", "not slow", "-q", *extra],
            cwd=REPO, env=env, stdout=log, stderr=subprocess.STDOUT)
        procs.append((label, p, log, shard_dir))
    rc = 0
    for label, p, log, shard_dir in procs:
        p.wait()
        log.close()
        tail = open(log.name).read().splitlines()[-6:]
        status = "ok" if p.returncode == 0 else f"FAILED rc={p.returncode}"
        print(f"--- shard {label}: {status} ({log.name})")
        for line in tail:
            print(f"    {line}")
        rc = rc or p.returncode
    print(f"fast loop total: {time.perf_counter() - t0:.0f}s "
          f"({'green' if rc == 0 else 'RED'})")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
