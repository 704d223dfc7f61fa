"""One walker over a query plan's JVM tree, for tests that assert on plan
shape.

Tests read nodes and node fields (a scan's required columns and filters,
a join's type, an exchange's partitioning) instead of grepping the plan's
string, which truncates long lists and prints an adaptive plan's cached
subtrees in a form that depends on whether the cache was filled.

``nodes(df)`` walks whatever physical plan the DataFrame's
``QueryExecution`` holds, and never runs an action: the final adaptive
plan if the caller already ran one, the initial plan if not. Cached
relations are walked into (an ``InMemoryRelation``'s cached plan is an
inner child), and so are subqueries, an adaptive plan's current plan and
a query stage's plan.
"""

from __future__ import annotations

PYTHON_PACKAGE = "org.apache.spark.sql.execution.python."


def seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


class Node:
    """One plan node: its ``name`` (Spark's ``nodeName``) and its JVM
    object ``jvm`` for field reads."""

    __slots__ = ("name", "jvm")

    def __init__(self, jvm):
        self.jvm = jvm
        self.name = jvm.nodeName()

    def __repr__(self) -> str:
        return f"Node({self.name})"

    @property
    def is_python(self) -> bool:
        """A node that runs Python: any operator of Spark's Python
        execution package, or a logical node evaluating Python or pandas
        code."""
        return (self.jvm.getClass().getName().startswith(PYTHON_PACKAGE)
                or "Python" in self.name or "InPandas" in self.name
                or "InArrow" in self.name)

    @property
    def is_join(self) -> bool:
        return "Join" in self.name or self.name == "CartesianProduct"


def walk(plan):
    """Yield every node of a JVM plan tree (physical or logical), depth
    first and top down, the way ``treeString`` prints it."""
    stack = [plan]
    while stack:
        jvm = stack.pop()
        node = Node(jvm)
        yield node
        kids = []
        if node.name == "AdaptiveSparkPlan":
            kids.append(jvm.executedPlan())
        elif node.name.endswith("QueryStage"):
            kids.append(jvm.plan())
        inner = jvm.innerChildren()
        kids += seq(inner)
        kids += [s for s in seq(jvm.subqueries()) if not inner.contains(s)]
        kids += seq(jvm.children())
        stack.extend(reversed(kids))


def nodes(df) -> list[Node]:
    """Every node of ``df``'s physical plan, without running it."""
    return list(walk(df._jdf.queryExecution().executedPlan()))


def analyzed_nodes(df) -> list[Node]:
    """Every node of ``df``'s analyzed logical plan."""
    return list(walk(df._jdf.queryExecution().analyzed()))


def named(ns, name: str) -> list[Node]:
    return [n for n in ns if n.name == name]


def count(ns, name: str) -> int:
    return len(named(ns, name))


def has(ns, fragment: str) -> bool:
    """Some node's name contains ``fragment``."""
    return any(fragment in n.name for n in ns)


def python_nodes(ns) -> list[Node]:
    return [n for n in ns if n.is_python]


def joins(ns, kind: str | None = None) -> list[Node]:
    """Join nodes; with ``kind``, those whose join type is ``kind``
    (``Inner``, ``LeftSemi``, ``LeftAnti``, …)."""
    return [n for n in ns if n.is_join
            and (kind is None or n.jvm.joinType().toString() == kind)]


def exchanges(ns) -> list[Node]:
    """Every exchange node: shuffles, broadcasts and reused exchanges."""
    return [n for n in ns if "Exchange" in n.name]


def shuffles(ns, partitioning: str | None = None) -> list[Node]:
    """Shuffle exchanges; with ``partitioning``, those partitioned that
    way (``HashPartitioning``, ``RangePartitioning``, ``SinglePartition``,
    ``RoundRobinPartitioning``)."""
    return [n for n in ns if n.name == "Exchange"
            and (partitioning is None
                 or _simple_name(n.jvm.outputPartitioning()) == partitioning)]


def _simple_name(obj) -> str:
    return obj.getClass().getSimpleName().rstrip("$")


def hash_keys(node: Node) -> list[str]:
    """Column names of a hash exchange's partitioning expressions."""
    return [ref for e in seq(node.jvm.outputPartitioning().expressions())
            for ref in references(e)]


def broadcast_mode(node: Node) -> str:
    return _simple_name(node.jvm.mode())


def references(expr) -> list[str]:
    """Names of the columns an expression reads."""
    return [a.name() for a in seq(expr.references().toSeq())]


def expressions(node: Node):
    """Yield every expression node under ``node``'s expressions."""
    stack = seq(node.jvm.expressions())
    while stack:
        e = stack.pop()
        yield e
        stack.extend(seq(e.children()))


def agg_functions(node: Node) -> list[tuple[str, str]]:
    """(mode, function) of each aggregate of an aggregate node, e.g.
    ``("Partial", "count")``."""
    return [(a.mode().toString(), a.aggregateFunction().prettyName())
            for a in seq(node.jvm.aggregateExpressions())]


# --- file scans --------------------------------------------------------

def scans(ns) -> list[Node]:
    """File source scans (``FileScan`` in the plan's string)."""
    return [n for n in ns if n.name.startswith("Scan ")
            and n.jvm.getClass().getSimpleName() == "FileSourceScanExec"]


def scan_paths(node: Node) -> list[str]:
    return [p.toString() for p in
            seq(node.jvm.relation().location().rootPaths())]


def scans_of(ns, fragment: str) -> list[Node]:
    """File scans whose root path contains ``fragment``."""
    return [n for n in scans(ns)
            if any(fragment in p for p in scan_paths(n))]


def read_columns(node: Node) -> list[str]:
    """The data columns the scan reads (its required schema)."""
    return list(node.jvm.requiredSchema().fieldNames())


def data_filters(node: Node) -> list:
    return seq(node.jvm.dataFilters())


def partition_filters(node: Node) -> list:
    return seq(node.jvm.partitionFilters())


def pushed_filters(node: Node) -> list:
    """The data-source filters pushed into the reader
    (``org.apache.spark.sql.sources.Filter``)."""
    return seq(node.jvm.pushedDownFilters())


def pushed_columns(node: Node) -> set[str]:
    return {c for f in pushed_filters(node) for c in f.references()}


def in_values(expr) -> set:
    """The values of an ``IN``/``INSET`` predicate."""
    if expr.nodeName() == "InSet":
        return set(seq(expr.hset().toSeq()))
    return {v.value() for v in seq(expr.list())}
