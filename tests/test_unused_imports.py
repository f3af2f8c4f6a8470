"""Every imported name is used somewhere in its module.

An AST scan of the library, the tests, the scripts and the bench
harness: a name bound by ``import``/``from ... import`` that no
expression in the same file reads is dead and fails here. Package
``__init__`` files (their imports are re-exports) and ``__future__``
imports are exempt. Pure Python — no SparkSession.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    out = [os.path.join(REPO, "bench.py")]
    for d in ("record_matcher_spark", "tests", "scripts", "bench"):
        for root, _dirs, files in os.walk(os.path.join(REPO, d)):
            out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _unused_imports(source: str) -> list[str]:
    tree = ast.parse(source)
    bound: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                bound[alias.asname or alias.name.split(".")[0]] = node.lineno
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{name} (line {ln})" for name, ln in bound.items() if name not in read]


def test_scan_flags_an_unused_import():
    src = "from __future__ import annotations\nimport os, sys\nimport a.b\nprint(sys, a)\n"
    assert _unused_imports(src) == ["os (line 2)"]


def test_no_unused_imports():
    dead = {}
    for path in _sources():
        if os.path.basename(path) == "__init__.py":
            continue
        with open(path) as f:
            names = _unused_imports(f.read())
        if names:
            dead[os.path.relpath(path, REPO)] = names
    assert not dead, f"imported but never referenced: {dead}"
