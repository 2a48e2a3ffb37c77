"""Every package module is reachable from the package's entry points,
and every top-level package function, class and constant is named by
some caller.

A module that only its own test imports is dead weight: nothing the
warehouse or the publisher runs depends on it, yet it costs review and
Tier-1 time. A function, class or constant that nothing names at all
is the same waste at a smaller grain. The scans are static (ast over
every file, function-local imports included), so they need no Spark
session.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PKG = "gmall_realtime_flink_spark"
REPO = Path(__file__).resolve().parents[1]
PKG_DIR = REPO / PKG

# the registry (publisher reads and streaming entries), the warehouse
# chain, and the session, catalog and oracle every caller goes through
ENTRY_POINTS = ("plans", "streaming.topology", "session", "catalog", "oracle")
# Deployment wiring with no in-package caller: the Kafka source/sink
# builders (S1-S4) need the spark-sql-kafka connector, which this
# Spark install lacks, so only the transport tests drive them.
WIRING = ("streaming.kafka",)


def _modules() -> dict[str, Path]:
    mods = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = path.relative_to(PKG_DIR.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    """`a.b.c` and its parent packages `a.b` and `a`: importing a module
    loads them all."""
    out = []
    while name:
        out.append(name)
        name = name.rpartition(".")[0]
    return out


def _imported(path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules named by the file's import statements. The
    package imports absolutely; a relative import would name no module
    here, and the module it imports would be reported as an orphan."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            # `from a import b` names either module a.b or an attribute of a
            targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            found.update(m for m in _with_parents(target) if m in mods)
    return found


def test_every_module_is_reachable_from_an_entry_point():
    mods = _modules()
    roots = [f"{PKG}.{m}" for m in (*ENTRY_POINTS, *WIRING)]
    assert set(roots) <= set(mods), sorted(set(roots) - set(mods))
    seen: set[str] = set()
    todo = [p for r in roots for p in _with_parents(r)]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imported(mods[name], mods))
    orphans = sorted(set(mods) - seen)
    assert not orphans, f"modules no entry point imports: {orphans}"


def _names(tree: ast.AST) -> list[str]:
    """Every identifier the tree names: a load or store of a bare name,
    an attribute access, or an import (its name and its alias)."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append(node.id)
        elif isinstance(node, ast.Attribute):
            out.append(node.attr)
        elif isinstance(node, ast.alias):
            out.append(node.name.rpartition(".")[2])
            if node.asname:
                out.append(node.asname)
    return out


def _defined(node: ast.stmt) -> list[str]:
    """The names a top-level statement defines that the guard checks:
    an undecorated `def` or `class`, and every bare-name target of an
    assignment except dunders (`__version__`, `__all__`)."""
    if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef):
        return [] if node.decorator_list else [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")]


def test_every_package_function_is_named_by_a_caller():
    """A top-level `def`, `class` or assigned constant in the package
    must be named somewhere other than its own statement: in the
    package, `tests/`, `tools/` or `perfbench/`. Decorated defs and
    classes are exempt — registry entries are reached through
    `@register`, not by name — and so are dunder constants and the
    WIRING modules, whose builders are the deployment's to call."""
    mods = _modules()
    wiring = {mods[f"{PKG}.{m}"] for m in WIRING}
    files = [p for d in (PKG_DIR, REPO / "tests", REPO / "tools", REPO / "perfbench")
             for p in d.rglob("*.py")]
    trees = {p: ast.parse(p.read_text()) for p in files}
    named = Counter(name for tree in trees.values() for name in _names(tree))
    orphans = []
    for path, tree in trees.items():
        if PKG_DIR not in path.parents or path in wiring:
            continue
        for node in tree.body:
            own = _names(node)
            for name in _defined(node):
                # a recursive call in its own body is not a caller
                if named[name] == own.count(name):
                    orphans.append(f"{path.relative_to(REPO)}::{name}")
    assert not orphans, f"top-level names nothing names: {sorted(orphans)}"
