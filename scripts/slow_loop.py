#!/usr/bin/env python
"""The slow-marked suite, sharded across concurrent pytest PROCESSES —
round-15 VERDICT item 2: the serial `pytest tests/ -m slow` run crossed
its ~600 s threshold (642 s judge / 560 s builder, both on loaded
hosts), so it gets the same process-level sharding treatment as
scripts/fast_loop.py (round-12/13 template; pytest-xdist is not in this
environment).

Composition of the slow set: 6 heavy integration tests across five
files (mllib grid sweep, recall floor, property check, BPE oracles,
analyze roundtrip) plus test_empty_tables.py's full-catalog
degenerate-corpus sweeps, which dominate the wall time and split one
test per shard. NB: -k matches the whole node id INCLUDING the
filename, so the selectors below use the test-function substrings, not
"empty_tables", which matches both via the module name:

  1. every slow test outside test_empty_tables.py
  2. the empty-corpus catalog sweep (-k survives_empty)
  3. everything ELSE in test_empty_tables.py (-k "not survives_empty" —
     today exactly the single-row-corpus sweep, the slowest single test:
     quantizers/trainers on degenerate input pay fixed overhead per
     catalog entry). Complement-based so a future slow test added to the
     file lands in a shard instead of silently vanishing;
     tests/test_slow_loop_coverage.py pins union == serial.

Each shard gets its own warehouse/Derby home via
SPARK_GRAFT_TEST_SHARD_DIR (embedded Derby allows one metastore per
directory; tests/conftest.py). Coverage is IDENTICAL to the serial
`pytest tests/ -m slow`. The full `pytest tests/` run is untouched.

Usage: python scripts/slow_loop.py [extra pytest args…]
Exit code: non-zero if ANY shard fails; each shard's tail is printed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHARDS = [
    ("slow-rest", ["tests", "--ignore=tests/test_empty_tables.py"], {}),
    ("slow-empty", ["tests/test_empty_tables.py",
                    "-k", "survives_empty"], {}),
    # COMPLEMENT of the shard above, not a second positive substring: two
    # positive -k selectors would silently drop a future slow test in
    # this file that matches neither, while slow-rest ignores the whole
    # file. tests/test_slow_loop_coverage.py pins union == serial.
    ("slow-single+rest", ["tests/test_empty_tables.py",
                          "-k", "not survives_empty"], {}),
]


def main() -> int:
    extra = sys.argv[1:]
    procs = []
    t0 = time.perf_counter()
    for label, targets, env_add in SHARDS:
        shard_dir = tempfile.mkdtemp(
            prefix=f"slowloop_{label.replace('/', '_')}_")
        env = dict(os.environ,
                   SPARK_GRAFT_TEST_SHARD_DIR=shard_dir, **env_add)
        log = open(os.path.join(shard_dir, "pytest.log"), "w")
        p = subprocess.Popen(
            [sys.executable, "-m", "pytest", *targets,
             "-m", "slow", "-q", *extra],
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
    print(f"slow loop total: {time.perf_counter() - t0:.0f}s "
          f"({'green' if rc == 0 else 'RED'})")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
