"""Guard: the package holds production code only.  Every top-level
function, class and assigned name of every package module must be
referenced by code outside tests/ — the package itself, scripts/,
perfbench/, __spark_entry__.py, bench.py or bench_extra.py.  Fixture
encoders and the specs of fused operators live under tests/.  Every
defaulted parameter of a top-level package function must be set by
one of those callers: an option nothing sets is a constant.  A
quarantine row's reason is formatted in ``execution.py`` only."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "reading_the_unreadable_spark"


def _references(tree: ast.AST) -> set[str]:
    """Names the code refers to: a loaded name, an attribute, an
    imported name (and its alias), or an attribute named by string in
    the ``f(obj, "attr", …)`` idiom (``getattr``, ``setattr``, a
    tracer's ``wrap(module, "attr", …)``).  Any other string — a SQL
    alias, a query name — does not count, nor do assignment targets."""
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
        elif isinstance(node, ast.Call) and len(node.args) >= 2:
            attr = node.args[1]
            if isinstance(attr, ast.Constant) and isinstance(attr.value, str):
                used.add(attr.value)
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


CALLERS = [
    *PKG.rglob("*.py"),
    *(REPO / "scripts").rglob("*.py"),
    *(REPO / "perfbench").rglob("*.py"),
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "bench_extra.py",
]

# Encoder options that only tests set: each builds decoder input that
# production never writes, to drive a production decode path.
TEST_SET_OPTIONS = {
    "operators/jpeg.py _encode_plane_block(shift=)":
        "media_fixtures.encode_jpeg_12 level-shifts 12-bit samples by 2048 "
        "for test_jpeg_12bit_precision",
    "operators/jpeg.py encode_jpeg(restart_interval=)":
        "test_jpeg_roundtrip_property writes RSTn markers the decoder must resync on",
    "operators/jpeg.py encode_jpeg_progressive(quality=)":
        "test_progressive_jpeg_exact_vs_baseline compares against baseline at q50/q90",
    "operators/jpeg.py encode_jpeg_progressive(subsample=)":
        "test_progressive_jpeg_exact_vs_baseline decodes 4:2:0 scans; "
        "test_review_regressions_codecs rejects 4:2:2",
    "operators/multimodal.py encode_png(interlace=)":
        "test_png_adam7_and_palette and test_archive_codec_fuzz_contract "
        "decode Adam7-interlaced PNGs",
}


def _defaulted(path: Path) -> list[tuple[str, str, int | None]]:
    """(function, parameter, positional index or None) of every
    defaulted parameter of the module's top-level functions."""
    out = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            out += [(node.name, p.arg, i) for i, p in enumerate(pos) if i >= first]
            out += [
                (node.name, p.arg, None)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
    return out


def _call_sites(paths: list[Path]) -> dict[str, list[tuple[float, set]]]:
    """Callee name → (positional count, keywords) per call by name or
    attribute; a ``*args`` call counts as passing every position and a
    ``**kwargs`` call as passing every keyword (key None)."""
    sites: dict[str, list[tuple[float, set]]] = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in node.args)
            n_pos = float("inf") if star else len(node.args)
            sites.setdefault(name, []).append((n_pos, {k.arg for k in node.keywords}))
    return sites


def test_package_symbols_have_callers():
    used: set[str] = set()
    for path in CALLERS:
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


def test_defaulted_parameters_have_callers():
    sites = _call_sites(CALLERS)
    unset = []
    for path in sorted(PKG.rglob("*.py")):
        for fn, param, index in _defaulted(path):
            if not any(
                None in kws or param in kws or (index is not None and n_pos > index)
                for n_pos, kws in sites.get(fn, [])
            ):
                unset.append(f"{path.relative_to(PKG)} {fn}({param}=)")
    stale = sorted(set(TEST_SET_OPTIONS) - set(unset))
    assert not stale, "allowlisted options now set outside tests/:\n" + "\n".join(stale)
    unlisted = [u for u in unset if u not in TEST_SET_OPTIONS]
    assert not unlisted, "no caller outside tests/ sets:\n" + "\n".join(unlisted)


def test_quarantine_reason_formatted_once():
    """A quarantine row's reason is spelled in one place,
    ``execution.quarantine_reason``: no other package module formats an
    f-string from ``type(…).__name__``."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "execution.py" and path.parent == PKG:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.JoinedStr) and any(
                isinstance(n, ast.Attribute)
                and n.attr == "__name__"
                and isinstance(n.value, ast.Call)
                and getattr(n.value.func, "id", None) == "type"
                for n in ast.walk(node)
            ):
                sites.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not sites, (
        "format the reason with execution.quarantine_reason:\n" + "\n".join(sites)
    )
