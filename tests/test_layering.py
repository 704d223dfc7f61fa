"""Import layering of the package: catalog modules compose kernels, they
never reach into each other.

``plans/*_queries.py`` (and the other registering modules under
``plans/``) import ``plans.registry``, ``operators/``, ``functions/``,
``sources/`` and ``streaming/``. Importing a catalog module registers its
queries, so a sideways import would register them early and tie one
module's private helpers to another's; shared code lives in a module that
registers nothing. The layers below ``plans/`` may use the registry's
lifetime tracking, and nothing else from ``plans/``.

Shared code is also written once: no two top-level functions in the
package may repeat the same plan stage token for token. And a setting
exists only where some caller uses it: a defaulted parameter that no call
ever sets to another value is a constant. And no catalog query loads the
same table twice.

The tests are named for what they check, never for the round that added
them, and they read plans through the one walker in ``tests/plan_walk.py``
rather than grepping plan strings.
"""

from __future__ import annotations

import ast
import io
import collections
import functools
import itertools
import re
import tokenize
from pathlib import Path

PKG = "spark_sentiment_spark"
ROOT = Path(__file__).resolve().parent.parent / PKG
LOWER = ("operators", "functions", "sources", "streaming")
REGISTRY = f"{PKG}.plans.registry"


@functools.cache
def _parsed(path: Path) -> tuple[str, ast.Module]:
    """(source, AST) of ``path``, read and parsed once for all guards."""
    src = path.read_text()
    return src, ast.parse(src, str(path))


def _imported_modules(path: Path) -> list[tuple[int, str]]:
    """(line, dotted module) for every import in ``path``, at any depth;
    ``from <pkg>.plans import mod`` yields ``<pkg>.plans.mod``."""
    out = []
    for node in ast.walk(_parsed(path)[1]):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module == f"{PKG}.plans":
            out += [(node.lineno, f"{node.module}.{a.name}")
                    for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.append((node.lineno, node.module))
    return out


def _plans_imports(subdir: str) -> list[str]:
    bad = []
    for path in sorted((ROOT / subdir).rglob("*.py")):
        for line, mod in _imported_modules(path):
            if not mod.startswith(f"{PKG}.plans."):
                continue
            if mod == REGISTRY or mod.startswith(REGISTRY + "."):
                continue
            if path.parent.name == "plans" and path.stem == "registry":
                continue
            bad.append(f"{path.relative_to(ROOT.parent)}:{line} {mod}")
    return bad


def test_catalog_modules_do_not_import_each_other():
    bad = _plans_imports("plans")
    assert not bad, "plans/ modules import other plans/ modules:\n" + \
        "\n".join(bad)


def test_lower_layers_import_only_the_registry_from_plans():
    bad = [b for sub in LOWER for b in _plans_imports(sub)]
    assert not bad, "lower layers import plans/ beyond the registry:\n" + \
        "\n".join(bad)


# --- Clone guard: one copy of each plan stage --------------------------------

#: Shortest run of identical tokens that counts as a copied stage: about
#: 5 to 8 lines of catalog code.
CLONE_TOKENS = 60

#: Function pairs allowed to share such a run, each with its one-line
#: reason, keyed by the sorted pair of ("plans/x.py::fn", "plans/y.py::fn")
#: paths relative to the package.
CLONE_ALLOWED: dict[tuple[str, str], str] = {}

_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _function_tokens(path: Path) -> dict[str, list[str]]:
    """Token strings of every top-level function in ``path`` (decorators
    excluded), without comments, docstrings or layout tokens; string
    literals stay."""
    src, tree = _parsed(path)
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                docstrings.add((body[0].lineno, body[0].col_offset))
    toks = [t for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type not in _LAYOUT
            and not (t.type == tokenize.STRING and t.start in docstrings)]
    rel = path.relative_to(ROOT).as_posix()
    return {f"{rel}::{node.name}":
            [t.string for t in toks
             if node.lineno <= t.start[0] <= node.end_lineno]
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))}


def _cloned_pairs(n: int = CLONE_TOKENS) -> set[tuple[str, str]]:
    """Pairs of top-level functions that share a run of ``n`` tokens."""
    funcs = {}
    for path in sorted(ROOT.rglob("*.py")):
        funcs.update(_function_tokens(path))
    owners: dict[tuple[str, ...], set[str]] = {}
    for name, toks in funcs.items():
        for i in range(len(toks) - n + 1):
            owners.setdefault(tuple(toks[i:i + n]), set()).add(name)
    return {pair for names in owners.values() if len(names) > 1
            for pair in itertools.combinations(sorted(names), 2)}


def test_no_copied_plan_stages():
    pairs = _cloned_pairs()
    copied = sorted(pairs - CLONE_ALLOWED.keys())
    assert not copied, (
        f"{len(copied)} function pairs share a run of {CLONE_TOKENS} "
        "identical tokens; move the shared stage into one helper (or "
        "allow-list the pair with its reason):\n"
        + "\n".join(f"{a}  <->  {b}" for a, b in copied))
    stale = sorted(CLONE_ALLOWED.keys() - pairs)
    assert not stale, f"allow-listed pairs no longer cloned: {stale}"


# --- Settings guard: a default that never varies is a constant ---------------

REPO = ROOT.parent

#: Defaulted parameters that keep their setting although no call in the
#: repo passes another value, keyed "module.py::function.param" (module path
#: relative to the package), each with its one-line reason.
SETTINGS_ALLOWED: dict[str, str] = {
    "analyze.py::analyze.sentence_scorer_factory":
        "public API (__all__): the our-nlp scorer plug-point",
    "functions/text.py::clean_source.tweet_tokenize":
        "public API (__all__): skips the tweet tokenizer for plain text",
    "operators/detection.py::detect_roles.limit":
        "public API (__all__): detection sample size",
    "operators/mllib_pipeline.py::score_model.drop_intermediate":
        "public API (__all__): keep the feature columns for inspection",
    "operators/nlp_model.py::model_scorer_factory.path":
        "path setting: which saved model to serve",
    "operators/nlp_model.py::save_model.path":
        "path setting: where to write the model",
    "plans/similarity_queries.py::ann_ivfpq_refresh_probe.refresh_pct":
        "varied through query(name, refresh_pct=50) in "
        "tests/test_ivfpq_index.py to reach the stale-index branch",
}


def _call_sources() -> list[Path]:
    """Every ``.py`` file whose calls count: the package, tests, scripts,
    the benchmarks (not their run output) and the driver entry point."""
    files = sorted(ROOT.rglob("*.py"))
    files += sorted((REPO / "tests").rglob("*.py"))
    files += sorted((REPO / "scripts").rglob("*.py"))
    files += [p for p in sorted((REPO / "perfbench").rglob("*.py"))
              if "_work" not in p.relative_to(REPO).parts]
    return files + [REPO / "bench.py", REPO / "__spark_entry__.py"]


def _source_of(src: str):
    """``ast.get_source_segment`` for ``src``, splitting it once (AST
    offsets count UTF-8 bytes)."""
    lines = src.encode().splitlines(keepends=True)

    def segment(node) -> str:
        first, last = node.lineno - 1, node.end_lineno - 1
        if first == last:
            return lines[first][node.col_offset:node.end_col_offset].decode()
        return b"".join([lines[first][node.col_offset:],
                         *lines[first + 1:last],
                         lines[last][:node.end_col_offset]]).decode()
    return segment


def _defaulted_params() -> dict[str, tuple[str, list[str], dict[str, str]]]:
    """name -> (module path, positional parameter names, {param: default
    source}) for every ``def`` under the package whose name is defined
    once."""
    defs: dict[str, list] = {}
    for path in sorted(ROOT.rglob("*.py")):
        src, tree = _parsed(path)
        segment = _source_of(src)
        parents = {c: n for n in ast.walk(tree)
                   for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            if isinstance(parents.get(node), ast.ClassDef) and pos \
                    and pos[0] in ("self", "cls"):
                pos = pos[1:]
            defaults = dict(zip(pos[len(pos) - len(a.defaults):],
                                map(segment, a.defaults))
                            ) if a.defaults else {}
            defaults.update({p.arg: segment(d)
                             for p, d in zip(a.kwonlyargs, a.kw_defaults)
                             if d is not None})
            defs.setdefault(node.name, []).append(
                (path.relative_to(ROOT).as_posix(), pos, defaults))
    return {name: found[0] for name, found in defs.items() if len(found) == 1}


def unvaried_settings() -> list[str]:
    """``module.py::function.param`` for every defaulted parameter that no
    call in the repo sets to anything but its default's source text. A
    call with ``*args`` or ``**kwargs`` varies every parameter."""
    funcs = _defaulted_params()
    varied: set[tuple[str, str]] = set()
    for path in _call_sources():
        src, tree = _parsed(path)
        segment = _source_of(src)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            if name not in funcs:
                continue
            _, pos, defaults = funcs[name]
            if any(isinstance(a, ast.Starred) for a in node.args) or \
                    any(k.arg is None for k in node.keywords):
                varied.update((name, p) for p in defaults)
                continue
            passed = list(zip(pos, node.args)) + \
                [(k.arg, k.value) for k in node.keywords]
            varied.update((name, p) for p, v in passed if p in defaults
                          and segment(v) != defaults[p])
    return sorted(f"{mod}::{name}.{p}"
                  for name, (mod, _, defaults) in funcs.items()
                  for p in defaults if (name, p) not in varied)


def test_every_default_is_varied():
    unvaried = unvaried_settings()
    fixed = [k for k in unvaried if k not in SETTINGS_ALLOWED]
    assert not fixed, (
        f"{len(fixed)} defaulted parameters never take a second value; "
        "make each the constant it is (or allow-list it with its "
        "reason):\n" + "\n".join(fixed))
    stale = sorted(SETTINGS_ALLOWED.keys() - set(unvaried))
    assert not stale, f"allow-listed settings now varied or gone: {stale}"


# --- Reach guard: every package definition has a caller ----------------------

#: Top-level definitions kept although no root reaches them, keyed
#: "module.py::name" (module path relative to the package), each with its
#: one-line reason.
REACH_ALLOWED: dict[str, str] = {
    "operators/asof.py::asof_join_cogrouped":
        "reference twin: tests/test_properties.py checks asof_join "
        "against this cogrouped form",
    "plans/pipeline_queries.py::_dedup_ranked":
        "reference twin: the join-back form the inline curation rank "
        "replaced, kept to compare against",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(*nodes: ast.AST) -> set[str]:
    """Every ``ast.Name`` id and ``ast.Attribute`` attr under ``nodes``."""
    return {n.id if isinstance(n, ast.Name) else n.attr
            for node in nodes for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def _is_registered(node: ast.AST) -> bool:
    """Decorated ``@register(...)`` (a query) or ``@atexit.register``."""
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def unreached_definitions() -> list[str]:
    """``module.py::name`` for every top-level ``def`` or ``class`` under
    the package that no root reaches by name.

    Roots are the registered queries and exit hooks, the package's
    ``__all__``, dunder definitions the
    interpreter calls, every package module's import-time code (statements
    outside ``def`` and ``class`` bodies, decorators, defaults and bases),
    and every identifier and string literal in the driver entry point, the
    bench, ``scripts/`` and ``perfbench/`` (which wraps functions by name).
    A definition is reached when a reached definition names it."""
    defs: dict[str, list[ast.AST]] = {}
    where: dict[int, str] = {}
    roots: set[str] = set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for node in _parsed(path)[1].body:
            if not isinstance(node, _DEFS):
                roots |= _names(node)
                if rel == "__init__.py" and any(
                        isinstance(t, ast.Name) and t.id == "__all__"
                        for t in getattr(node, "targets", ())):
                    roots |= {c.value for c in ast.walk(node.value)
                              if isinstance(c, ast.Constant)}
                continue
            defs.setdefault(node.name, []).append(node)
            where[id(node)] = f"{rel}::{node.name}"
            roots |= _names(*node.decorator_list)
            if isinstance(node, ast.ClassDef):
                roots |= _names(*node.bases, *node.keywords)
            else:
                roots |= _names(*node.args.defaults, *filter(
                    None, node.args.kw_defaults))
            if _is_registered(node) or node.name.startswith("__"):
                roots.add(node.name)
    for path in _call_sources():
        if path.is_relative_to(ROOT) or path.is_relative_to(TESTS):
            continue
        for n in ast.walk(_parsed(path)[1]):
            if isinstance(n, ast.Name):
                roots.add(n.id)
            elif isinstance(n, ast.Attribute):
                roots.add(n.attr)
            elif isinstance(n, ast.alias):
                roots.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                roots.add(n.value)
    reached: set[str] = set()
    todo = list(roots & defs.keys())
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += _names(*defs[name]) & defs.keys()
    return sorted(where[id(node)] for name, nodes in defs.items()
                  if name not in reached for node in nodes)


def test_every_definition_is_reached():
    unreached = unreached_definitions()
    dead = [k for k in unreached if k not in REACH_ALLOWED]
    assert not dead, (
        f"{len(dead)} package definitions are reached by no entry point, "
        "query, script or benchmark; delete each (with the tests that "
        "exercise nothing else) or allow-list it with its reason:\n"
        + "\n".join(dead))
    stale = sorted(REACH_ALLOWED.keys() - set(unreached))
    assert not stale, f"allow-listed definitions now reached or gone: {stale}"


def test_no_duplicate_table_loads_in_any_query():
    """No query function calls load() twice for the same table: every
    multi-branch consumer either persists the shared frame or derives
    both branches from one load. A duplicate load re-scans the fact
    table once per plan branch at 100 TB; new queries must share the
    scan."""
    offenders = []
    for path in sorted((ROOT / "plans").glob("*_queries.py")):
        for node in ast.walk(_parsed(path)[1]):
            if not isinstance(node, ast.FunctionDef):
                continue
            loads = collections.Counter()
            for sub in ast.walk(node):
                if isinstance(sub, ast.Call):
                    name = getattr(sub.func, "id",
                                   getattr(sub.func, "attr", ""))
                    if name == "load" and len(sub.args) >= 3:
                        tbl = getattr(sub.args[2], "value", None)
                        if isinstance(tbl, str):
                            loads[tbl] += 1
            dups = {t: c for t, c in loads.items() if c > 1}
            if dups:
                offenders.append(f"{path.name}:{node.name}: {dups}")
    assert not offenders, offenders


TESTS = REPO / "tests"
ROUND_NAME = re.compile(r"round\d|_r\d\d_")


def test_no_test_name_encodes_a_round():
    bad = [p.name for p in sorted(TESTS.glob("*.py"))
           if ROUND_NAME.search(p.stem + "_")]
    for path in sorted(TESTS.glob("test_*.py")):
        for node in ast.walk(_parsed(path)[1]):
            if isinstance(node, ast.FunctionDef) \
                    and node.name.startswith("test_") \
                    and ROUND_NAME.search(node.name + "_"):
                bad.append(f"{path.name}::{node.name}")
    assert not bad, bad


def _reads_query_execution(node: ast.AST) -> bool:
    return any(isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
               and n.func.attr == "queryExecution" for n in ast.walk(node))


def test_tests_read_plans_through_the_walker():
    """No test greps a plan string: ``toString()`` on anything reached
    from a ``queryExecution()`` appears in no file under tests/ except
    the walker."""
    bad = []
    for path in sorted(TESTS.rglob("*.py")):
        if path.name == "plan_walk.py":
            continue
        for node in ast.walk(_parsed(path)[1]):
            if isinstance(node, ast.Call) \
                    and isinstance(node.func, ast.Attribute) \
                    and node.func.attr == "toString" \
                    and _reads_query_execution(node.func.value):
                bad.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not bad, bad
