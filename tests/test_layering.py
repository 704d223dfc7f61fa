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
package may repeat the same plan stage token for token.
"""

from __future__ import annotations

import ast
import io
import itertools
import tokenize
from pathlib import Path

PKG = "spark_sentiment_spark"
ROOT = Path(__file__).resolve().parent.parent / PKG
LOWER = ("operators", "functions", "sources", "streaming")
REGISTRY = f"{PKG}.plans.registry"


def _imported_modules(path: Path) -> list[tuple[int, str]]:
    """(line, dotted module) for every import in ``path``, at any depth;
    ``from <pkg>.plans import mod`` yields ``<pkg>.plans.mod``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
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
    src = path.read_text()
    tree = ast.parse(src, str(path))
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
