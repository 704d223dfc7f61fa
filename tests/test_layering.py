"""Import layering of the package: catalog modules compose kernels, they
never reach into each other.

``plans/*_queries.py`` (and the other registering modules under
``plans/``) import ``plans.registry``, ``operators/``, ``functions/``,
``sources/`` and ``streaming/``. Importing a catalog module registers its
queries, so a sideways import would register them early and tie one
module's private helpers to another's; shared code lives in a module that
registers nothing. The layers below ``plans/`` may use the registry's
lifetime tracking, and nothing else from ``plans/``.
"""

from __future__ import annotations

import ast
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
