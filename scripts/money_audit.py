#!/usr/bin/env python
"""Boundary-proximity audit for rounded aggregates.

The order-sensitive `round(sum(double), 2)` class diverged between Spark and
DuckDB when an aggregate's pre-rounding value sat within summation noise of a
half-ulp rounding boundary (q1 at sf0.1; the hand audit then found one q3
group EXACTLY on a half-cent boundary, masked only by its top-10 cut). The
fix converted the money sums to the exact DECIMAL(27,s) per-row idiom. This
script makes that hand audit permanent: a new money query that reintroduces
the order-sensitive class gets flagged when it is added instead of diverging
at some future SF.

For every registered oracle, it finds each `round(X, d)` whose argument
contains a `sum(`, classifies the idiom —
  * EXACT : the summand is decimal-cast (`AS DECIMAL(p,s)` inside the sum) —
    order-independent by construction; boundary proximity is harmless because
    both engines round the same exact value with the same half-up rule;
  * DOUBLE: a double-typed aggregate — order-sensitive; needs distance >>
    summation noise (~1e-4 in last-digit units for the TPC-H money sums,
    measured on q1 at sf0.1; the flag threshold is 20x that);
— then rewrites the site IN PLACE to the distance expression
`abs((t - floor(t)) - 0.5)` with `t = (X) * 10^d` (distance 0.5 = mid-bucket,
0 = exactly on a rounding boundary), strips the top-level LIMIT so cut-masked
groups are audited too, and reports the MIN distance over all output rows at
sf0.01 and sf0.1.

Sites whose rounded value feeds a predicate (HAVING/WHERE/ON, or an alias
compared elsewhere, e.g. q15's `revenue = (SELECT max(revenue)...)`) are
reported MANUAL: the rewrite would change which rows survive, so the
measured min could miss the risky group. EXACT-idiom MANUAL sites are safe
by construction anyway; a DOUBLE MANUAL site must be audited by hand.

Usage:
  python scripts/money_audit.py            # audit, print the site table
  python scripts/money_audit.py --flagged  # print only FLAG/MANUAL-DOUBLE
Exit 1 if any DOUBLE site has min distance < FLAG_DIST or is MANUAL.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Flag thresholds in last-digit units (distance in [0, 0.5]; 0 = on
# boundary). Summation noise in these units scales as 10^d x eps x N x
# magnitude: for the d<=4 money sums it measured ~1e-4 (flag at 20x
# that); the d>=5 sites are O(1)-magnitude ratios/entropies whose noise in
# 1e-6 units stays below ~1e-5 (flag at 10x that).
def flag_dist(digits: int) -> float:
    return 0.002 if digits <= 4 else 1e-4


# Sites adjudicated ON or NEAR a boundary whose pre-rounding value is
# EXACT in double (integer-valued summands, dyadic divisors), so both
# engines round the identical double and agree deterministically — ties
# here are benign, unlike the order-sensitive double-money class. Each
# entry carries its rationale; a NEW flag not in this list fails the gate.
ALLOWLIST: dict[tuple[str, str], str] = {
    ("packing_efficiency", "naive_waste"):
        "ratio of exact BIGINT sums over *256.0 — value exact in double",
    ("packing_efficiency", "packed_waste"):
        "ratio of exact BIGINT sums over *256.0 — value exact in double",
    ("multimodal_frame_sample", "mean_r"):
        "sum of <=64 small ints / 64 (dyadic) — value exact in double",
    ("multimodal_frame_sample", "mean_g"):
        "sum of <=64 small ints / 64 (dyadic) — value exact in double",
    ("multimodal_frame_sample", "mean_b"):
        "sum of <=64 small ints / 64 (dyadic) — value exact in double",
    ("dedup_char_ngrams", "shared_ratio"):
        "ratio of exact 0/1-count sums — order-independent; both engines "
        "divide the same integers, so any on-boundary group is a "
        "deterministic (non-latent) tie, green at every swept SF",
}

SF_DIRS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")


def find_sites(sql: str) -> list[tuple[int, int, str, str]]:
    """Return [(start, end, inner_expr, digits)] for round(<contains sum>)."""
    sites = []
    for m in re.finditer(r"\bround\s*\(", sql, re.I):
        i, depth = m.end(), 1
        while depth and i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        inner = sql[m.end():i - 1]
        if not re.search(r"\bsum\s*\(", inner, re.I):
            continue
        # split inner at its last top-level comma -> (expr, digits)
        depth, split = 0, -1
        for j, ch in enumerate(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                split = j
        if split < 0:
            continue  # single-arg round -> d=0; none in the catalog
        sites.append((m.start(), i, inner[:split], inner[split + 1:].strip()))
    return sites


def classify(expr: str) -> str:
    """EXACT-DEC = decimal-cast summand (order-independent by type).
    EXACT-FP  = q1's integer fixed-point idiom, sum(CAST(round(x*10^k) AS
    BIGINT)) — the integer sum is exact and order-independent; the final
    divide+round sees the identical double on both engines, so even an
    on-boundary group (q1 sum_disc_price at sf0.1, dist 0.0) resolves
    identically (verified green at sf0.001/0.01/0.1).
    DOUBLE = a double accumulation — the order-sensitive class."""
    if re.search(r"AS\s+DECIMAL\s*\(", expr, re.I):
        return "EXACT-DEC"
    if re.search(r"AS\s+BIGINT\s*\)", expr, re.I):
        return "EXACT-FP"
    return "DOUBLE"


def site_alias(sql: str, end: int) -> str | None:
    m = re.match(r"\s*(?:::\w+)?\s+AS\s+(\w+)", sql[end:], re.I)
    return m.group(1) if m else None


def is_predicate_context(sql: str, start: int) -> bool:
    """True when the nearest preceding clause keyword AT OR ABOVE the
    site's paren depth is WHERE/HAVING/ON — i.e. the rounded value filters
    rows, so an in-place rewrite would change the audited row set. CASE
    WHEN inside a select item is NOT a predicate (SQL clause order puts a
    select-list site before its own FROM/ON/WHERE text, so the
    nearest-keyword rule stays correct inside CTE chains). Keywords nested
    DEEPER than the site are ignored: a scalar subquery's WHERE earlier in
    the same select list — `(SELECT … WHERE …) AS x, round(sum(…))` —
    would otherwise classify the following select-list site as predicate
    context, forcing a spurious MANUAL."""
    depths, depth = [0] * start, 0
    for i in range(start):
        depths[i] = depth
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
    site_depth = depth
    last_kw, last_pos = "select", -1
    for kw in ("select", "where", "having", r"group\s+by", r"order\s+by",
               r"\bon\b"):
        for m in re.finditer(kw, sql[:start], re.I):
            if depths[m.start()] > site_depth:
                continue  # inside a subexpression nested deeper than the site
            if m.start() > last_pos:
                last_pos, last_kw = m.start(), kw
    return last_kw in ("where", "having", r"\bon\b")


def alias_in_predicate(sql: str, alias: str) -> bool:
    """True when the site's alias feeds a comparison elsewhere — directly
    (`alias <op>`) or anywhere inside a comparison's scalar subquery
    (`<op> (SELECT … alias …)`, e.g. q15's `revenue = (SELECT
    max(revenue)…)`). The subquery scan takes the balanced-paren extent: a
    `[^)]*` scan cannot span nested parentheses, so it would miss an alias
    after a nested closing paren — `= (SELECT max(round(…)) … alias)` — a
    false SAFE for a DOUBLE site."""
    if re.search(rf"\b{alias}\b\s*(=|<>|!=|>=|<=|>|<|\bIN\b)", sql, re.I):
        return True
    for m in re.finditer(r"(=|<>|!=|>=|<=|>|<|\bIN\b)\s*\(\s*SELECT\b",
                         sql, re.I):
        i = sql.index("(", m.end(1))
        depth, j = 1, i + 1
        while depth and j < len(sql):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        if re.search(rf"\b{alias}\b", sql[i:j], re.I):
            return True
    return False


def strip_top_limit(sql: str) -> str:
    return re.sub(r"\bLIMIT\s+\d+\s*;?\s*$", "", sql.rstrip(), flags=re.I)


def site_inventory() -> list[dict]:
    """Static (no-SQL-execution) inventory of every round(sum(...)) oracle
    site: [{query, alias, idiom, digits}], sorted. Snapshotted to
    scripts/money_sites.json by --snapshot; tests/test_oracle.py
    compares the live inventory to the snapshot so a NEW rounded-sum site
    (or an idiom downgrade on an existing one) fails every test run with
    a pointer to run the full distance audit."""
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
    all_queries()
    inv = []
    for name, q in REGISTRY.items():
        if q.sql is None:
            continue
        for k, (start, end, expr, digits) in enumerate(find_sites(q.sql)):
            inv.append({"query": name,
                        "alias": site_alias(q.sql, end) or f"site{k}",
                        "idiom": classify(expr), "digits": digits})
    return sorted(inv, key=lambda r: (r["query"], r["alias"], r["digits"]))


SNAPSHOT_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "money_sites.json")


def main() -> None:
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
    from tests.oracle_utils import duck_connection
    all_queries()
    if "--snapshot" in sys.argv:
        with open(SNAPSHOT_PATH, "w") as fh:
            json.dump(site_inventory(), fh, indent=1)
        print(f"# wrote {SNAPSHOT_PATH}")
        return

    cons = {d: duck_connection(d) for d in SF_DIRS}
    rows, n_bad = [], 0
    for name, q in REGISTRY.items():
        if q.sql is None:
            continue
        sites = find_sites(q.sql)
        if not sites:
            continue
        for k, (start, end, expr, digits) in enumerate(sites):
            idiom = classify(expr)
            alias = site_alias(q.sql, end)
            manual = is_predicate_context(q.sql, start) or (
                alias is not None and alias_in_predicate(
                    q.sql[:start] + q.sql[end:], alias))
            row = {"query": name, "site": k, "alias": alias or f"site{k}",
                   "idiom": idiom, "digits": digits, "status": "?",
                   "dist": {}}
            if manual:
                row["status"] = ("MANUAL-DOUBLE" if idiom == "DOUBLE"
                                 else "MANUAL-EXACT")
                if idiom == "DOUBLE" and (name, row["alias"]) not in ALLOWLIST:
                    n_bad += 1
                rows.append(row)
                continue
            try:
                scale = 10 ** int(digits)
            except ValueError:
                row["status"] = "MANUAL-DOUBLE"  # non-literal digits
                n_bad += 1
                rows.append(row)
                continue
            dist_expr = (f"abs((((CAST({expr} AS DOUBLE)) * {scale}) - "
                         f"floor((CAST({expr} AS DOUBLE)) * {scale})) - 0.5)")
            audited = strip_top_limit(q.sql[:start] + dist_expr + q.sql[end:])
            ok = True
            for d, con in cons.items():
                col = alias
                try:
                    if col is None:
                        # unaliased site: wrap and name the injected column
                        audited2 = strip_top_limit(
                            q.sql[:start] + dist_expr + " AS __dist__"
                            + q.sql[end:])
                        df = con.execute(audited2).df()
                        col = "__dist__"
                    else:
                        df = con.execute(audited).df()
                    vals = df[col].dropna()
                    row["dist"][d.rsplit("/", 1)[1]] = (
                        round(float(vals.min()), 6) if len(vals) else None)
                except Exception as exc:  # noqa: BLE001
                    row["dist"][d.rsplit("/", 1)[1]] = f"ERR {exc}"[:80]
                    ok = False
            dists = [v for v in row["dist"].values()
                     if isinstance(v, (int, float))]
            if not ok:
                row["status"] = "REWRITE-FAILED"
                n_bad += 1
            elif idiom != "DOUBLE":
                row["status"] = idiom  # exact by construction
            elif (name, row["alias"]) in ALLOWLIST:
                row["status"] = "ALLOWLISTED"
            elif dists and min(dists) < flag_dist(int(digits)):
                row["status"] = "FLAG"
                n_bad += 1
            else:
                row["status"] = "SAFE"
            rows.append(row)

    only_flagged = "--flagged" in sys.argv
    print("| query | site | idiom | d | min dist sf0.01 | sf0.1 | status |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        if only_flagged and r["status"] in ("SAFE", "EXACT-DEC", "EXACT-FP",
                                            "MANUAL-EXACT", "ALLOWLISTED"):
            continue
        d1 = r["dist"].get("sf0.01", "—")
        d2 = r["dist"].get("sf0.1", "—")
        print(f"| {r['query']} | {r['alias']} | {r['idiom']} | "
              f"{r['digits']} | {d1} | {d2} | {r['status']} |")
    print(json.dumps({"sites": len(rows), "bad": n_bad,
                      "flag_dist": {"d<=4": 0.002, "d>=5": 1e-4}}))
    for con in cons.values():
        con.close()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
