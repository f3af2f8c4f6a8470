"""Every top-level name in the library is read by code outside ``tests/``.

An AST scan: each top-level function, class and constant (a module-level
assignment to a plain name) in ``record_matcher_spark/`` must be read —
as a bare name or as an attribute (``module.NAME``, ``obj.NAME``) —
somewhere in the library itself (its own module included), in
``__spark_entry__.py``, ``bench.py``, ``bench/``, ``erbench/`` or
``scripts/``. A name only tests read is test code living in the library;
a name nothing reads is dead. Pure Python — no SparkSession.

Exemptions:

- names listed in a package ``__init__``'s ``__all__`` (the public API);
- dunder names (``__all__``, ``__version__``), which tools read;
- :data:`ENTRY_POINTS`, public classes a user imports from their own
  module.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "record_matcher_spark"
CALLERS = ("__spark_entry__.py", "bench.py", "bench", "erbench", "scripts")
# compat.RecordMatcher is the reference-API facade: a user of the
# reference switches engines by importing it (README "Package map").
ENTRY_POINTS = {"RecordMatcher"}


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO, rel)
    if path.endswith(".py"):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _defined(tree: ast.Module) -> dict[str, int]:
    names: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names[node.name] = node.lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    names[t.id] = node.lineno
    return names


def _read(tree: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _exported(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
        ):
            return set(ast.literal_eval(node.value))
    return set()


def dead_names(library: dict[str, str], callers: dict[str, str]) -> list[str]:
    """``library``/``callers``: relative path -> source. Returns
    ``path:line name`` for each library top-level name nothing reads."""
    trees = {p: ast.parse(s) for p, s in {**callers, **library}.items()}
    read: set[str] = set()
    exempt = set(ENTRY_POINTS)
    for path, tree in trees.items():
        read |= _read(tree)
        if path in library and os.path.basename(path) == "__init__.py":
            exempt |= _exported(tree)
    dead = []
    for path in sorted(library):
        for name, line in _defined(trees[path]).items():
            dunder = name.startswith("__") and name.endswith("__")
            if name not in read and name not in exempt and not dunder:
                dead.append(f"{path}:{line} {name}")
    return dead


def test_scan_flags_an_unread_name():
    lib = {
        "pkg/__init__.py": "from pkg.m import api\n__all__ = ['api']\n",
        "pkg/m.py": (
            "K = 1\nUNUSED = 2\n__version__ = '1'\n"
            "def api():\n    return _helper() + K\n"
            "def _helper():\n    return 0\n"
            "def only_tests():\n    pass\n"
            "class Used:\n    pass\n"
        ),
    }
    callers = {"scripts/s.py": "import pkg.m as m\nm.Used()\n"}
    assert dead_names(lib, callers) == ["pkg/m.py:2 UNUSED", "pkg/m.py:8 only_tests"]


def test_no_dead_library_names():
    def load(paths):
        out = {}
        for p in paths:
            with open(p) as f:
                out[os.path.relpath(p, REPO)] = f.read()
        return out

    library = load(_py_files(LIBRARY))
    callers = load(p for rel in CALLERS for p in _py_files(rel))
    dead = dead_names(library, callers)
    assert not dead, f"library names nothing outside tests/ reads: {dead}"
