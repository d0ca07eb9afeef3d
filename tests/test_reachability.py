"""Every module under ``uncp_spark/`` is on a path from an entry point.

Walks the ``import`` statements of the source (function-level imports
included) from the query entry point (``__spark_entry__``), the
pipeline, the command surface and cancellation, plus the ``--py-files``
packaging seam, which is its own user surface. A module nothing reaches is dead code: delete it, or
call it from the engine. The same holds one level down: every top-level
function and class in the package must be named somewhere outside its
own definition. No Spark session is started.
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
# trees whose source may name a package function or class
NAMING_DIRS = ["uncp_spark", "tests", "perfbench", "scripts"]


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


def _py_files() -> list[str]:
    out = [os.path.join(REPO, "__spark_entry__.py")]
    for top in NAMING_DIRS:
        for d, _, files in os.walk(os.path.join(REPO, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _name_uses(tree: ast.AST):
    """(name, line) for every AST name, attribute and import alias."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node.lineno


def test_every_package_function_and_class_is_named_elsewhere():
    trees = {}
    for path in _py_files():
        with open(path) as f:
            trees[path] = ast.parse(f.read())
    # name → every (file, line) that names it
    uses: dict[str, list[tuple[str, int]]] = {}
    for path, tree in trees.items():
        for name, line in _name_uses(tree):
            uses.setdefault(name, []).append((path, line))
    unnamed = []
    for path, tree in trees.items():
        if not os.path.relpath(path, REPO).startswith("uncp_spark" + os.sep):
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            if all(
                p == path and line in own for p, line in uses.get(node.name, [])
            ):
                unnamed.append(f"{os.path.relpath(path, REPO)}:{node.name}")
    assert not unnamed, f"functions and classes nothing names: {unnamed}"
