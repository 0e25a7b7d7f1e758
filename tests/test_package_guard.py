"""Guard: the package holds production code only.  Every top-level
function, class and assigned name of every package module must be
referenced by code outside tests/ — the package itself, scripts/,
perfbench/, __spark_entry__.py, bench.py or bench_extra.py.  Fixture
encoders and the specs of fused operators live under tests/."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "reading_the_unreadable_spark"


def _docstring_nodes(tree: ast.AST) -> set[int]:
    owners = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, owners) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _references(tree: ast.AST) -> set[str]:
    """Names the code refers to: a loaded name, an attribute, an
    imported name (and its alias) or a string constant.  Docstrings
    and assignment targets do not count."""
    docs = _docstring_nodes(tree)
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
            if node.asname:
                used.add(node.asname)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docs:
                used.add(node.value)
    return used


def _definitions(path: Path) -> list[tuple[str, int]]:
    """(name, line) of every top-level def, class and assigned name;
    dunder metadata such as ``__version__`` is exempt."""
    out = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        out.append((n.id, node.lineno))
    return [(n, ln) for n, ln in out if not (n.startswith("__") and n.endswith("__"))]


def test_package_symbols_have_callers():
    callers = [
        *PKG.rglob("*.py"),
        *(REPO / "scripts").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        REPO / "bench_extra.py",
    ]
    used: set[str] = set()
    for path in callers:
        used |= _references(ast.parse(path.read_text()))
    modules = sorted(PKG.rglob("*.py"))
    assert len(modules) > 40
    orphans = [
        f"{path.relative_to(REPO)}:{line} {name}"
        for path in modules
        for name, line in _definitions(path)
        if name not in used
    ]
    assert not orphans, "no caller outside tests/:\n" + "\n".join(orphans)
