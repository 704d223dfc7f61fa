"""Every catalog query with an oracle must match DuckDB on row count,
schema names, and values at sf0.001; rows-only queries must run; the
catalog's order, driver entry points and doc counters stay in step with
the registry."""

import hashlib
import json
import os
import subprocess
import sys

import pytest

from spark_sentiment_spark.plans.registry import (REGISTRY, all_queries,
                                                  release_caches)
from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_connection

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

all_queries()  # populate REGISTRY
ORACLE_NAMES = [n for n, q in REGISTRY.items() if q.sql is not None]
ROWS_ONLY_NAMES = [n for n, q in REGISTRY.items() if q.sql is None]


def _in_shard(name: str) -> bool:
    """scripts/fast_loop.py splits the sweep across concurrent pytest
    processes via SPARK_GRAFT_ORACLE_SHARD="i/n" (md5-deterministic).
    Unset → everything (any plain `pytest tests/`)."""
    spec = os.environ.get("SPARK_GRAFT_ORACLE_SHARD")
    if not spec:
        return True
    i, n = (int(x) for x in spec.split("/"))
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % n == i


_SWEEP = [n for n in ORACLE_NAMES if _in_shard(n)]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", _SWEEP)
def test_oracle_match(spark, duck, name):
    q = REGISTRY[name]
    ok, msg = compare(q.fn(spark, SF_DIR), duck, q.sql, name)
    release_caches()  # full-catalog run in ONE session must not accumulate
    assert ok, msg


@pytest.mark.parametrize("name", [n for n in ROWS_ONLY_NAMES
                                  if _in_shard(n)])
def test_rows_only_runs(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_DIR)
    n = df.count()
    release_caches()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_release_caches_leaves_nothing_cached(spark):
    """After a consuming action + release_caches(), the query's cached
    RDDs are gone — the long-lived-session contract for plans that persist
    intermediates. Tracked by RDD *id set*, not count: the async
    ContextCleaner may concurrently free localCheckpoint RDDs left by
    earlier tests' iterative queries, so absolute counts flake — only the
    ids THIS query added must appear and then disappear."""
    from spark_sentiment_spark.plans.registry import REGISTRY

    release_caches()  # drain anything tracked by earlier tests
    jsc = spark.sparkContext._jsc.sc()

    def cached_ids():
        it = jsc.getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = cached_ids()
    REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR).count()
    added = cached_ids() - before
    assert added, "query persisted nothing"
    assert release_caches() >= 1
    assert not (added & cached_ids()), "tracked persists survived release"


# Run in a fresh interpreter so registration is observed as it happens:
# REGISTRY is swapped for a dict that logs each insert before any query
# module is imported.
_ORDER_PROBE = """
import json
from spark_sentiment_spark.plans import registry

class Log(dict):
    order = []

    def __setitem__(self, k, v):
        self.order.append(k)
        super().__setitem__(k, v)

registry.REGISTRY = Log()
import __spark_entry__ as entry
print(json.dumps({
    "registered": Log.order,
    "after": list(entry.queries()),
    "registry": list(registry.REGISTRY),
    "oracle_backed": [n for n, q in registry.REGISTRY.items()
                      if q.sql is not None],
    "oracles": list(entry.oracle_sql()),
}))
"""


def test_catalog_order_is_registration_order():
    """Catalog order is import order: nothing reorders the registry, and
    the driver entry points expose exactly what was registered."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    out = subprocess.run([sys.executable, "-c", _ORDER_PROBE], cwd=REPO,
                         env=env, capture_output=True, text=True, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["registry"] == got["registered"]
    assert got["after"] == got["registered"]
    assert sorted(got["oracles"]) == sorted(got["oracle_backed"])
    assert got["registered"] == list(REGISTRY)


def test_doc_counters_match_registry():
    """Round-9 VERDICT (repeat nit): README/COVERAGE carried a stale
    catalog count two rounds running. Pin the literal counters in both
    docs to the live registry so growth without a doc bump fails here."""
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    total = len(REGISTRY)
    rows_only = sum(1 for q in REGISTRY.values() if q.sql is None)

    readme = open(os.path.join(REPO, "README.md")).read()
    assert f"all {total} registered queries" in readme, (
        f"README.md --list-queries counter != {total}")
    coverage = open(os.path.join(REPO, "COVERAGE.md")).read()
    assert f"FOUR of the {total}" in coverage or (
        rows_only != 4 and f"of the {total}" in coverage), (
        f"COVERAGE.md rows-only counter != {total}")
    # round-12 VERDICT: the SURVEY §7.4 realized-surface note drifted twice;
    # pin its literal counters to the live registry like README/COVERAGE.
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    assert (f"({total} queries, {total - rows_only} oracle-backed"
            in survey), (
        f"SURVEY.md §7.4 note != {total}/{total - rows_only}")


def test_money_sites_match_audited_snapshot():
    """Round-15 money gate, continuous form: the full boundary-distance
    audit (scripts/money_audit.py, PLANS.md table) runs at round close;
    this pin makes the inventory part run every fast loop. A NEW
    round(sum(...)) oracle site, or an idiom change on an existing one
    (e.g. an exact decimal sum downgraded to a raw double sum), fails
    here until the distance audit is re-run and the snapshot rewritten
    (`python scripts/money_audit.py` — must exit 0 — then `--snapshot`)."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from money_audit import SNAPSHOT_PATH, site_inventory

    live = site_inventory()
    snap = json.load(open(SNAPSHOT_PATH))
    assert live == snap, (
        "round(sum(...)) oracle sites drifted from scripts/money_sites.json"
        " — run `python scripts/money_audit.py` (exit 0 required), then"
        " `--snapshot` to re-baseline")
