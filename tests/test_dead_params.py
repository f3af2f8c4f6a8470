"""Every defaulted library parameter is set by a call, and by more than
one value outside tests.

Two AST scans. The first: for each function in ``record_matcher_spark/``
(methods and nested functions included; ``compat.py`` is exempt because
it copies the reference's API), each parameter with a default must be
set by some call in the repo's Python files, tests included. A parameter no call sets is
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

The second counts only non-test callers (the library, the driver entry,
the benchmarks and ``scripts/``): a defaulted parameter whose every
non-test call passes the same value is a knob only tests turn. Its value
is a module constant; a test that needs another value monkeypatches the
constant. A call's value is the unparsed argument expression, or the
default's when the argument is left out. An argument that reads a
parameter of a function around the call, or one passed through
``*args`` / ``**kwargs``, counts as varying. Parameters that stay
settable anyway are listed in ``KEPT`` with the reason.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "record_matcher_spark"
# compat.RecordMatcher copies the reference's signatures on purpose.
EXEMPT = {os.path.join(LIBRARY, "compat.py")}
# Path prefixes of the callers outside tests.
NON_TEST = (
    LIBRARY + os.sep, "__spark_entry__.py", "bench.py", "bench" + os.sep,
    "erbench" + os.sep, "scripts" + os.sep,
)
_PIPELINE = os.path.join(LIBRARY, "pipeline.py")
_INCREMENTAL = os.path.join(LIBRARY, "incremental.py")
_STREAMING = os.path.join(LIBRARY, "streaming.py")
_BLOCKING = os.path.join(LIBRARY, "operators", "blocking.py")
_EDGE_MODE = (
    "best_match is the reference-parity mode "
    "(test_pipeline_matches_oracle_clusters) and erbench pins "
    "resolve_matches; ROADMAP K settles it"
)
# (path, function, parameter) -> why it stays settable although every
# non-test call passes one value.
KEPT = {
    (_PIPELINE, "match_transcripts", "cfg"):
        "the match rules; ROADMAP J stamps them",
    (_STREAMING, "__init__", "cfg"):
        "the match rules; ROADMAP J stamps them",
    (_PIPELINE, "match_transcripts", "edge_mode"): _EDGE_MODE,
    (_INCREMENTAL, "match_increment", "edge_mode"): _EDGE_MODE,
    (_PIPELINE, "match_transcripts", "store"):
        "resume; ROADMAP F and J give it a non-test caller",
    (_PIPELINE, "match_transcripts", "observe"):
        "per-stage metrics; ROADMAP F gives it a non-test caller",
    (os.path.join(LIBRARY, "matcher.py"), "match_records", "keep_debug"):
        "erbench passes it",
    (os.path.join(LIBRARY, "operators", "scoring.py"), "score_pairs",
     "keep_column_scores"):
        "the ungated reference path of "
        "test_jw_pregate_is_exact_on_length_skew",
    (_BLOCKING, "candidate_pairs", "keys"):
        "the blocking baselines of tests/test_blocking_recall.py",
    (_BLOCKING, "minhash_band_keys", "hashes_column"):
        "the case-sensitive baseline of tests/test_blocking_recall.py",
    (_STREAMING, "start", "rebind_checkpoint"):
        "the opt-in override of a refusal",
}


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


_VARYING = object()


def _params(fn: ast.FunctionDef | ast.AsyncFunctionDef | ast.Lambda) -> set[str]:
    a = fn.args
    names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
    return names | {p.arg for p in (a.vararg, a.kwarg) if p is not None}


def _scoped_calls(tree: ast.AST):
    """Yield (call, parameter names of every def around it)."""

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                inner = scope | _params(child)
            if isinstance(child, ast.Call):
                yield child, scope
            yield from visit(child, inner)

    yield from visit(tree, frozenset())


def _value(call, name, index, offset, default, scope):
    """Unparsed value ``call`` passes for the parameter, or _VARYING."""
    expr = default
    for kw in call.keywords:
        if kw.arg is None:
            return _VARYING
        if kw.arg == name:
            expr = kw.value
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return _VARYING
        if index is not None and i + offset == index:
            expr = arg
    if any(isinstance(n, ast.Name) and n.id in scope for n in ast.walk(expr)):
        return _VARYING
    return ast.unparse(expr)


def single_valued_params(
    library: dict[str, str], callers: dict[str, str]
) -> dict[tuple[str, str, str], str]:
    """(path, function, param) -> the one value every non-test call
    passes, for each defaulted library parameter that has one."""
    calls: dict[str, list] = {}
    for path, src in callers.items():
        if path.startswith(NON_TEST):
            for call, scope in _scoped_calls(ast.parse(src)):
                if (name := _callee(call)) is not None:
                    calls.setdefault(name, []).append((call, scope))
    out = {}
    for path in sorted(library):
        if path in EXEMPT:
            continue
        for names, is_method, fn in _functions(ast.parse(library[path])):
            sites = [s for n in names for s in calls.get(n, [])]
            a = fn.args
            positional = a.posonlyargs + a.args
            defaults = dict(zip(
                [p.arg for p in positional[len(positional) - len(a.defaults):]]
                + [p.arg for p in a.kwonlyargs],
                list(a.defaults) + list(a.kw_defaults),
            ))
            for param, index in _defaulted(fn):
                values = {
                    _value(c, param, index, int(is_method), defaults[param], sc)
                    for c, sc in sites
                }
                if _VARYING not in values and len(values) <= 1:
                    value = values.pop() if values else ast.unparse(defaults[param])
                    out[(path, fn.name, param)] = value
    return out


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


def test_scan_flags_a_single_valued_parameter():
    lib = {
        "pkg/m.py": (
            "def f(a, b=1, c=2, *, d=3, e=4, g=5):\n    pass\n"
            "def h(y=0):\n    pass\n"
            "def k(z=0):\n    pass\n"
            "class C:\n"
            "    def m(self, r=0, s=1):\n        pass\n"
        ),
    }
    callers = {
        **lib,
        "scripts/s.py": (
            "import pkg.m as m\n"
            "m.f(0, 1, d=7, g=5)\n"
            "m.f(0, b=2, d=7)\n"
            "def run(n):\n"
            "    m.f(0, 1, e=n)\n"
            "    m.h(**{'y': 1})\n"
            "    m.C().m(0, s=n)\n"
            "    m.C().m(r=0)\n"
        ),
        # tests are not callers here: this call alone would vary c and k
        "tests/t.py": "import pkg.m as m\nm.f(0, c=9)\nm.k(1)\n",
    }
    assert single_valued_params(lib, callers) == {
        ("pkg/m.py", "f", "c"): "2",
        ("pkg/m.py", "f", "g"): "5",
        ("pkg/m.py", "k", "z"): "0",
        ("pkg/m.py", "m", "r"): "0",
    }


def test_no_single_valued_library_parameters():
    sources = {}
    for p in _py_files(REPO):
        with open(p) as f:
            sources[os.path.relpath(p, REPO)] = f.read()
    library = {p: s for p, s in sources.items() if p.startswith(LIBRARY + os.sep)}
    single = single_valued_params(library, sources)
    stale = sorted(set(KEPT) - set(single))
    assert not stale, f"KEPT entries no longer single-valued: {stale}"
    knobs = {k: v for k, v in single.items() if k not in KEPT}
    assert not knobs, (
        "defaulted library parameters every non-test call sets to one "
        f"value (make each a module constant): {knobs}"
    )
