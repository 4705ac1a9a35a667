"""Every module-level name in the engine package and in tools/ is used
somewhere.

Parses every ``.py`` file of the repository with ``ast`` (no imports, no
Spark) and collects every *load* of a name: a ``Name`` read, an
``Attribute`` read, an imported name, or a string constant that is a
Python identifier (``getattr``/registry lookups).  Assignment targets and
definitions do not count.  A module-level function, class or assigned
name of the package or of a tools/ script that nothing loads is dead
code: delete it.  A use from a test counts, so a reference
implementation that the tests compare a fast path against is kept.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "geotrellis_landsat_emr_demo_spark"
# directories whose module-level names must be loaded somewhere
GUARDED = (PACKAGE + os.sep, "tools" + os.sep)


def _py_files():
    """Every .py file of the repository, outside hidden (scratch) dirs."""
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _defined(tree: ast.Module):
    """(name, lineno) for each module-level def, class and assigned name."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno


def _loaded(tree: ast.Module):
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                yield n.value


def test_no_unreferenced_module_names():
    defined, loaded = [], set()
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        rel = os.path.relpath(path, ROOT)
        loaded.update(_loaded(tree))
        if rel.startswith(GUARDED):
            defined.extend((rel, line, name) for name, line in _defined(tree))
    assert {rel.split(os.sep)[0] for rel, _, _ in defined} == {PACKAGE, "tools"}
    dead = sorted(
        f"{rel}:{line} {name}"
        for rel, line, name in defined
        if name not in loaded and not (name.startswith("__") and name.endswith("__"))
    )
    assert not dead, "module-level names nothing loads:\n" + "\n".join(dead)
