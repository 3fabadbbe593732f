"""Least-code guard (Spark-free): every top-level function, class and
constant the engine defines is used somewhere in the repo."""

from __future__ import annotations

import ast
import os
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
EXEMPT = {"__version__"}


def _repo_sources() -> dict[Path, ast.Module]:
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = Path(d, f)
                out[path] = ast.parse(path.read_text(), str(path))
    return out


def _uses(node: ast.AST) -> Counter:
    """Names a subtree reads: loads, attribute accesses, imports, and
    identifier-shaped strings (getattr / monkeypatch keys)."""
    c: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                c[n.value] += 1
    return c


def _definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id, node
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id, node


def test_every_engine_definition_is_referenced():
    sources = _repo_sources()
    uses: Counter = Counter()
    for tree in sources.values():
        uses += _uses(tree)
    engine = [
        p for p in sources
        if p.relative_to(ROOT).parts[0] == "eodal_spark"
        or p == ROOT / "__spark_entry__.py"
    ]
    assert engine
    dead = [
        f"{p.relative_to(ROOT)}:{node.lineno} {name}"
        for p in sorted(engine)
        for name, node in _definitions(sources[p])
        if name not in EXEMPT and uses[name] <= _uses(node)[name]
    ]
    assert not dead, "defined but never used:\n" + "\n".join(dead)


def test_driver_rows_become_relations_only_in_local_frame():
    """`session.local_frame` is the engine's one way to turn driver rows
    into a relation: no other engine code calls ``createDataFrame``."""
    session = ROOT / "eodal_spark" / "session.py"
    stray = []
    for p, tree in sorted(_repo_sources().items()):
        if p.relative_to(ROOT).parts[0] != "eodal_spark":
            continue
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if p == session
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "local_frame"
            for n in ast.walk(fn)
        }
        stray += [
            f"{p.relative_to(ROOT)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and id(n) not in allowed
        ]
    assert not stray, "createDataFrame outside local_frame:\n" + "\n".join(stray)


def test_sessions_are_built_only_in_get_spark():
    """`session.get_spark` is the one place a session is built, so every
    entry point (engine, scripts, examples, benches, tests) gets the
    engine's conf, its Python worker daemon included: no other file
    touches ``SparkSession.builder``."""
    session = ROOT / "eodal_spark" / "session.py"
    stray = [
        f"{p.relative_to(ROOT)}:{n.lineno}"
        for p, tree in sorted(_repo_sources().items())
        if p != session
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr == "builder"
        and isinstance(n.value, (ast.Name, ast.Attribute))
        and getattr(n.value, "id", getattr(n.value, "attr", None)) == "SparkSession"
    ]
    assert not stray, "SparkSession.builder outside get_spark:\n" + "\n".join(stray)
