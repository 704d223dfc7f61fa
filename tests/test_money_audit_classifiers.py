"""Unit pins for scripts/money_audit.py's static SQL classifiers — the
two scenarios where the regex heuristics misread nesting:

  * is_predicate_context: a scalar subquery's WHERE earlier in the same
    select list must not make the following select-list site look like
    predicate context (false MANUAL — conservative but forces a spurious
    allowlist entry);
  * alias_in_predicate: an alias referenced after a nested closing paren
    inside a comparison subquery must still count as predicate usage
    (false SAFE — the dangerous direction for a DOUBLE site).
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from money_audit import (alias_in_predicate, find_sites,  # noqa: E402
                         is_predicate_context)


def _site_start(sql):
    sites = find_sites(sql)
    assert len(sites) == 1, sites
    return sites[0][0]


def test_select_list_site_after_scalar_subquery_is_not_predicate():
    sql = ("SELECT (SELECT max(x) FROM t2 WHERE t2.k = t.k) AS x, "
           "round(sum(t.amount), 2) AS rev FROM t GROUP BY t.k")
    assert not is_predicate_context(sql, _site_start(sql))


def test_having_site_is_predicate():
    sql = ("SELECT k FROM t GROUP BY k "
           "HAVING round(sum(amount), 2) > 100")
    assert is_predicate_context(sql, _site_start(sql))


def test_cte_where_does_not_taint_main_select_site():
    sql = ("WITH a AS (SELECT * FROM t WHERE amount > 0) "
           "SELECT round(sum(amount), 2) AS rev FROM a")
    assert not is_predicate_context(sql, _site_start(sql))


def test_site_inside_cte_after_earlier_cte_where():
    sql = ("WITH a AS (SELECT * FROM t WHERE amount > 0), "
           "b AS (SELECT round(sum(amount), 2) AS rev FROM a) "
           "SELECT * FROM b")
    assert not is_predicate_context(sql, _site_start(sql))


def test_alias_compared_directly():
    assert alias_in_predicate("... WHERE rev = 10 ...", "rev")
    assert not alias_in_predicate("SELECT rev FROM t ORDER BY rev", "rev")


def test_alias_inside_nested_paren_comparison_subquery():
    # q15 shape, with the alias AFTER a nested closing paren inside the
    # scalar subquery — the old [^)]* scan stopped at max(...)'s ')'.
    sql = ("SELECT s_suppkey, rev FROM r WHERE rev = "
           "(SELECT max(round(r2.rev, 2)) FROM r r2 WHERE r2.rev > 0)")
    assert alias_in_predicate(sql, "rev")


def test_alias_in_IN_subquery():
    sql = ("SELECT k FROM t WHERE k IN "
           "(SELECT k FROM r WHERE round(x, 1) > 0 AND rev > 5)")
    assert alias_in_predicate(sql, "rev")


def test_unrelated_subquery_does_not_flag_alias():
    # the audit calls alias_in_predicate on sql with the site excised;
    # an unrelated comparison subquery must not flag the alias
    assert not alias_in_predicate(
        "SELECT  AS rev FROM t WHERE k = (SELECT max(k) FROM dim)", "rev")
