"""Every module under ``uncp_spark/`` is on a path from an entry point.

Walks the ``import`` statements of the source (function-level imports
included) from the query entry point (``__spark_entry__``), the
pipeline, the command surface and cancellation, plus the ``--py-files``
packaging seam, which is its own user surface. A module nothing reaches is dead code: delete it, or
call it from the engine. No Spark session is started.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = [
    "__spark_entry__",
    "uncp_spark.plans.pipeline",
    "uncp_spark.plans.commands",
    "uncp_spark.plans.cancellation",
    "uncp_spark.deploy",
]


def _modules() -> dict[str, str]:
    """Dotted module name → source path, for the package and the entry."""
    out = {"__spark_entry__": os.path.join(REPO, "__spark_entry__.py")}
    for d, _, files in os.walk(os.path.join(REPO, "uncp_spark")):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            parts = os.path.relpath(path, REPO)[:-3].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = path
    return out


def _imported_names(path: str) -> set[str]:
    """Every dotted name an import statement in ``path`` may load:
    ``import a.b``, ``from a import b`` (module ``a``, or submodule
    ``a.b``). Relative imports are not used in the package."""
    names: set[str] = set()
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import in {path}"
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _reached(modules: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        # importing a.b.c runs the __init__ of a and a.b first
        parts = mod.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += [n for n in _imported_names(modules[mod]) if n in modules]
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = _modules()
    assert set(ROOTS) <= set(modules)
    unreached = sorted(set(modules) - _reached(modules))
    assert not unreached, f"modules no entry point imports: {unreached}"
