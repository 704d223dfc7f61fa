"""Every catalog query with an oracle must match DuckDB on row count,
schema names, and values at sf0.001; rows-only queries must run; the
catalog's order, driver entry points and doc counters stay in step with
the registry."""

import json
import os
import subprocess
import sys

import pytest

from spark_sentiment_spark.plans import registry
from spark_sentiment_spark.plans.registry import REGISTRY
from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_connection

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ORACLE_NAMES = [n for n, q in REGISTRY.items() if q.sql is not None]
ROWS_ONLY_NAMES = [n for n, q in REGISTRY.items() if q.sql is None]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(query, duck, name):
    ok, msg = compare(query(name), duck, REGISTRY[name].sql, name)
    assert ok, msg


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(query, name):
    df = query(name)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_release_caches_leaves_nothing_cached(spark, query):
    """After a consuming action + release_caches(), the query's cached
    RDDs are gone — the long-lived-session contract for plans that persist
    intermediates. Tracked by RDD *id set*, not count: the async
    ContextCleaner may concurrently free localCheckpoint RDDs left by
    earlier tests' iterative queries, so absolute counts flake — only the
    ids THIS query added must appear and then disappear."""
    registry.release_caches()  # drain anything tracked by earlier tests
    jsc = spark.sparkContext._jsc.sc()

    def cached_ids():
        it = jsc.getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = cached_ids()
    query("dedup_minhash_lsh").count()
    added = cached_ids() - before
    assert added, "query persisted nothing"
    assert registry.release_caches() >= 1
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
    """The catalog counters written in README, COVERAGE and SURVEY
    match the live registry, so growth without a doc bump fails here."""
    total = len(REGISTRY)
    rows_only = sum(1 for q in REGISTRY.values() if q.sql is None)

    readme = open(os.path.join(REPO, "README.md")).read()
    assert f"all {total} registered queries" in readme, (
        f"README.md --list-queries counter != {total}")
    coverage = open(os.path.join(REPO, "COVERAGE.md")).read()
    assert f"FOUR of the {total}" in coverage or (
        rows_only != 4 and f"of the {total}" in coverage), (
        f"COVERAGE.md rows-only counter != {total}")
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    assert (f"({total} queries, {total - rows_only} oracle-backed"
            in survey), (
        f"SURVEY.md §7.4 note != {total}/{total - rows_only}")


#: Queries that share an oracle on purpose: one round trip through two
#: file formats.
SHARED_ORACLE_OK = [{"io_json_roundtrip", "io_orc_roundtrip"}]


def test_one_batch_query_per_oracle():
    """No two batch queries answer the same oracle SQL. A second plan for
    one answer belongs inside the query (a strategy it picks) or in a test
    (a differential check), not in the catalog. Streaming twins are exempt:
    each is the only check of its source and sink path."""
    groups = {}
    for name, q in REGISTRY.items():
        if q.sql is not None and "streaming" not in q.tags:
            groups.setdefault(" ".join(q.sql.split()), set()).add(name)
    shared = sorted(sorted(g) for g in groups.values()
                    if len(g) > 1 and g not in SHARED_ORACLE_OK)
    assert not shared, f"batch queries share an oracle: {shared}"


def test_money_sites_match_audited_snapshot():
    """The round(sum(...)) oracle sites equal the snapshot that the
    boundary-distance audit last passed on: a new site or a changed idiom
    fails here until `python scripts/money_audit.py` exits 0 and
    `--snapshot` rewrites it."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from money_audit import SNAPSHOT_PATH, site_inventory

    live = site_inventory()
    snap = json.load(open(SNAPSHOT_PATH))
    assert live == snap, (
        "round(sum(...)) oracle sites drifted from scripts/money_sites.json"
        " — run `python scripts/money_audit.py` (exit 0 required), then"
        " `--snapshot` to re-baseline")
