"""Every function, constant and branch under ``sparkobs/`` earns a
caller outside ``tests/``.

Spark-free: both checks parse source with ``ast``. The callers that
count are ``sparkobs/`` itself (whose registry is the driver's
surface), ``__spark_entry__.py``, ``bench.py``, ``tools/`` and
``perfbench/`` (its self-tests excluded).

1. A top-level function or constant (UPPER_CASE name) is reachable
   when some counted file names it outside its own definition. The
   walk starts from every non-``sparkobs`` file and every top-level
   ``sparkobs`` statement that defines nothing, and follows names to a
   fixpoint, so code only reachable from other unreachable code is
   flagged too. Names match by bare identifier (attribute or name),
   which over-approximates: it never flags reachable code.
2. A defaulted parameter of a top-level function that appears in an
   ``if`` / ``IfExp`` / ``while`` test selects a branch. Some counted
   call of that function must pass it: by keyword, by position, or
   through ``*args`` / ``**kw``.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONSTANT = re.compile(r"^_?[A-Z][A-Z0-9_]*$")

# Public API kept on purpose: (flagged names, one-line reason).
# "module.name" is a definition, "module.function(param)" a branch.
ALLOWED = [
    (
        ("operators.dedup.bloom_probe(m_words)", "operators.dedup.bloom_probe(n_hashes)"),
        "a probe must take its bloom_build's geometry, and a mismatch raises",
    ),
    (
        (
            "operators.profile.theta_estimate",
            "operators.profile.theta_intersect_estimate",
            "operators.profile.theta_intersect_grouped",
        ),
        "the Spark set algebra the theta entries replay on the driver bit for bit",
    ),
]
ALLOWED_NAMES = {n for names, _ in ALLOWED for n in names}


def _py_files(root: str, skip_dirs: tuple[str, ...] = ()) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x not in skip_dirs and x != "__pycache__")
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _sources() -> tuple[dict[str, ast.Module], list[ast.Module]]:
    """(sparkobs modules by short name, the other counted files)."""
    pkg = os.path.join(REPO, "sparkobs")
    mods = {
        os.path.splitext(os.path.relpath(p, pkg))[0]
        .replace(os.sep, ".")
        .removesuffix(".__init__"): _parse(p)
        for p in _py_files(pkg)
    }
    others = [os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py")]
    others += _py_files(os.path.join(REPO, "tools"))
    others += _py_files(os.path.join(REPO, "perfbench"), skip_dirs=("tests",))
    return mods, [_parse(p) for p in others]


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` mentions as a name or an attribute."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _definition(stmt: ast.stmt) -> str | None:
    """The name a top-level statement defines, if the check covers it."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        # a decorated function is registered by its decorator (the
        # ``@query`` registry): a root, not a candidate
        return None if stmt.decorator_list else stmt.name
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    if len(targets) == 1 and isinstance(targets[0], ast.Name):
        if CONSTANT.match(targets[0].id):
            return targets[0].id
    return None


def unreachable(allowed: set[str] = ALLOWED_NAMES) -> list[str]:
    mods, others = _sources()
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    frontier: set[str] = set()
    for m in others:
        frontier |= _names(m)
    for mod, tree in mods.items():
        for stmt in tree.body:
            name = _definition(stmt)
            if name is None or f"{mod}.{name}" in allowed:
                frontier |= _names(stmt)
            else:
                defs.setdefault(name, []).append((mod, stmt))
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, stmt in defs.get(name, ()):
            frontier |= _names(stmt) - seen
    return sorted(
        f"{mod}.{name}"
        for name, sites in defs.items()
        if name not in seen
        for mod, _ in sites
    )


def _branch_params(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None) of each defaulted parameter
    that an if / IfExp / while test inside ``fn`` reads."""
    a = fn.args
    positional = a.posonlyargs + a.args
    defaulted = [
        (p.arg, i)
        for i, p in enumerate(positional)
        if i >= len(positional) - len(a.defaults)
    ]
    defaulted += [
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]
    tested = set()
    for n in ast.walk(fn):
        if isinstance(n, (ast.If, ast.IfExp, ast.While)):
            tested |= _names(n.test)
    return [(name, i) for name, i in defaulted if name in tested]


def _passes(call: ast.Call, param: str, index: int | None) -> bool:
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if any(isinstance(x, ast.Starred) for x in call.args):
        return index is not None
    return index is not None and len(call.args) > index


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def unpassed_branches() -> list[str]:
    mods, others = _sources()
    calls: dict[str, list[ast.Call]] = {}
    for tree in [*mods.values(), *others]:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and _callee(n):
                calls.setdefault(_callee(n), []).append(n)
    out = []
    for mod, tree in mods.items():
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for param, index in _branch_params(fn):
                if not any(_passes(c, param, index) for c in calls.get(fn.name, ())):
                    out.append(f"{mod}.{fn.name}({param})")
    return sorted(out)


def test_every_top_level_name_has_a_non_test_reader():
    flagged = unreachable()
    assert not flagged, (
        "top-level functions/constants under sparkobs/ that no registry "
        f"entry, tool, bench or perfbench reaches: {flagged} — delete "
        "them (and the tests whose only subject they are) or give them "
        "a caller"
    )


def test_every_branching_parameter_is_passed_outside_tests():
    flagged = [n for n in unpassed_branches() if n not in ALLOWED_NAMES]
    assert not flagged, (
        "defaulted parameters that pick a branch but that no non-test "
        f"call site passes: {flagged} — fold each into its default "
        "behaviour, or make it a module constant a test can patch"
    )


def test_allow_list_is_short_and_still_needed():
    assert len(ALLOWED) <= 3
    flagged = set(unreachable(allowed=set())) | set(unpassed_branches())
    stale = sorted(ALLOWED_NAMES - flagged)
    assert not stale, f"allow-list names the scan no longer flags: {stale}"
