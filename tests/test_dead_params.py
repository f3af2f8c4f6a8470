"""Every defaulted library parameter is set by at least one call.

An AST scan: for each function in ``record_matcher_spark/`` (methods and
nested functions included; ``compat.py`` is exempt because it copies the
reference's API), each parameter with a default must be set by some call
in the repo's Python files, tests included. A parameter no call sets is
a knob nothing turns: its value is a constant, and the code only another
value could reach is dead. The fix is to make it a module constant and
delete that code, not to add a call that sets it. Pure Python — no
SparkSession.

A call sets a parameter by keyword, by position, or through ``*args`` /
``**kwargs``. Calls are matched by callee name only (``f(...)``,
``obj.f(...)``); an ``__init__`` is matched by its class name and by
``__init__`` (``super().__init__(...)``). A method's positional
arguments are counted from the parameter after ``self``. Name matching
over-approximates the callers, so the scan can miss a dead parameter
but never flags a live one.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "record_matcher_spark"
# compat.RecordMatcher copies the reference's signatures on purpose.
EXEMPT = {os.path.join(LIBRARY, "compat.py")}


def _py_files(root: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) per defaulted param."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _functions(tree: ast.Module):
    """Yield (callee names, is_method, def node) for every def in ``tree``."""

    def visit(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = {child.name}
                if cls is not None and child.name == "__init__":
                    names.add(cls)
                yield names, cls is not None, child
                yield from visit(child, None)
            elif isinstance(child, ast.ClassDef):
                yield from visit(child, child.name)
            else:
                yield from visit(child, cls)

    yield from visit(tree, None)


def _callee(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _calls(trees: list[ast.AST]) -> dict[str, list[ast.Call]]:
    out: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and (name := _callee(n)) is not None:
                out.setdefault(name, []).append(n)
    return out


def _sets(call: ast.Call, name: str, index: int | None, offset: int) -> bool:
    for kw in call.keywords:
        if kw.arg is None or kw.arg == name:
            return True
    if index is None:
        return False
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred) or i + offset >= index:
            return True
    return False


def dead_params(library: dict[str, str], callers: dict[str, str]) -> list[str]:
    """``library``/``callers``: relative path -> source (``callers`` may
    include the library). Returns ``path:line function(param)`` for each
    defaulted library parameter no call sets."""
    calls = _calls([ast.parse(s) for s in callers.values()])
    dead = []
    for path in sorted(library):
        if path in EXEMPT:
            continue
        for names, is_method, fn in _functions(ast.parse(library[path])):
            sites = [c for n in names for c in calls.get(n, [])]
            offset = 1 if is_method else 0
            for param, index in _defaulted(fn):
                if not any(_sets(c, param, index, offset) for c in sites):
                    dead.append(f"{path}:{fn.lineno} {fn.name}({param})")
    return dead


def test_scan_flags_an_unset_parameter():
    lib = {
        "pkg/m.py": (
            "def f(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
            "def g(x=0):\n    pass\n"
            "def h(y=0):\n    pass\n"
            "class C:\n"
            "    def __init__(self, p=0, q=1):\n        pass\n"
            "    def m(self, r=0, s=1):\n        pass\n"
        ),
    }
    callers = {
        **lib,
        "scripts/s.py": (
            "import pkg.m as m\n"
            "m.f(1, 2, d=0)\n"
            "m.g(*[1])\n"
            "m.h(**{'y': 1})\n"
            "m.C(0)\n"
            "m.C(0).m(1)\n"
        ),
    }
    assert dead_params(lib, callers) == [
        "pkg/m.py:1 f(c)",
        "pkg/m.py:1 f(e)",
        "pkg/m.py:8 __init__(q)",
        "pkg/m.py:10 m(s)",
    ]


def test_no_unset_library_parameters():
    sources = {}
    for p in _py_files(REPO):
        with open(p) as f:
            sources[os.path.relpath(p, REPO)] = f.read()
    library = {p: s for p, s in sources.items() if p.startswith(LIBRARY + os.sep)}
    dead = dead_params(library, sources)
    assert not dead, f"library parameters no call sets: {dead}"
