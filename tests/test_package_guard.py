"""Guard: the package holds production code only.  Every top-level
function, class and assigned name of every package module must be
referenced by code outside tests/ — the package itself, scripts/,
perfbench/, __spark_entry__.py, bench.py or bench_extra.py.  Fixture
encoders and the specs of fused operators live under tests/.  Every
defaulted parameter of a top-level function of the package or of
``__spark_entry__.py`` must take more than one value from those
callers: an option nothing sets, or that every call sets to the same
literal, is a constant.  A quarantine row's reason is formatted in
``execution.py`` only."""

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

# Options whose other values only tests use: an encoder option builds
# decoder input that production never writes, to drive a production
# decode path; an operator option is swept by a test against a spec or
# a brute-force reference.  Each entry names the test that needs it.
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
    "operators/jpeg.py encode_jpeg(quality=)":
        "test_jpeg_roundtrip_profiles and test_jpeg_16bit_quant_tables decode "
        "q85-q95 tables; test_progressive_jpeg_exact_vs_baseline compares at q50/q90",
    "operators/jpeg.py encode_jpeg(subsample=)":
        "test_jpeg_via_decode_image_and_features decodes 4:4:4 and 4:2:0; "
        "test_archive_codec_fuzz_contract rejects 4:2:2",
    "operators/multimodal.py encode_png(filter_type=)":
        "test_png_roundtrip_all_filters decodes each of the 5 PNG row filters",
    "sources/archives.py build_tar(gzip_frame=)":
        "test_arbitrary_payloads_round_trip and test_sniff_routes_by_magic "
        "read gzip-framed tars",
    "sources/warc.py build_warc(gzip_members=)":
        "test_round_trip and test_truncation_never_returns_wrong_records "
        "read per-record gzip members",
    "operators/dedup.py allpairs_jaccard(threshold=)":
        "test_allpairs_jaccard_exact_vs_bruteforce and "
        "test_allpairs_jaccard_random_corpora_exact sweep thresholds against brute force",
    "operators/dedup.py ngram_jaccard_pairs(threshold=)":
        "test_ngram_jaccard_bitset_vs_bruteforce sweeps thresholds against brute force",
    "operators/imagehash.py dhash_pairs(max_hamming=)":
        "test_band_join_is_exhaustive_vs_brute_force checks radii 1, 3 and 7 "
        "against brute force",
    "operators/textstats.py text_tiling(block_tokens=)":
        "test_text_tiling_arrow_equals_hof_spec compares with text_tiling_hof "
        "at several block sizes",
    "operators/temporal.py asof_join(tiebreak=)":
        "names an input column: test_asof_tiebreak_deterministic ties on 'pri', "
        "and the brute-force as-of tests have no tie column",
}


def _defaulted(path: Path) -> list[tuple[str, str, int | None, ast.expr]]:
    """(function, parameter, positional index or None, default) of
    every defaulted parameter of the module's top-level functions."""
    out = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            out += [
                (node.name, p.arg, i, a.defaults[i - first])
                for i, p in enumerate(pos)
                if i >= first
            ]
            out += [
                (node.name, p.arg, None, d)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
    return out


def _call_sites(paths: list[Path]) -> dict[str, list[ast.Call]]:
    """Callee name → every call by that name or attribute."""
    sites: dict[str, list[ast.Call]] = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "id", None) or getattr(func, "attr", None)
                if name is not None:
                    sites.setdefault(name, []).append(node)
    return sites


def _literal(node: ast.expr) -> str | None:
    """The literal's value with its type, or None for any other
    expression."""
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return f"{type(value).__name__}:{value!r}"


def _one_value_options(path: Path, sites: dict[str, list[ast.Call]]) -> list[str]:
    """Defaulted parameters that are options in name only.  A call that
    passes ``*``/``**`` counts as setting every parameter; otherwise a
    parameter is flagged when no call sets it (by keyword or by
    position), or when every call gives it one and the same literal
    (the argument it passes, or the default when it passes none)."""
    label = path.relative_to(PKG) if PKG in path.parents else path.name
    out = []
    for fn, param, index, default in _defaulted(path):
        calls = sites.get(fn, [])
        if any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in calls
        ):
            continue
        passed = []
        for c in calls:
            args = [k.value for k in c.keywords if k.arg == param]
            if index is not None:
                args += c.args[index : index + 1]
            passed.append(args[0] if args else None)
        values = {_literal(default if a is None else a) for a in passed}
        unset = all(a is None for a in passed)
        if unset or (len(values) == 1 and None not in values):
            out.append(f"{label} {fn}({param}=)")
    return out


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
    modules = [*sorted(PKG.rglob("*.py")), REPO / "__spark_entry__.py"]
    flagged = [o for path in modules for o in _one_value_options(path, sites)]
    stale = sorted(set(TEST_SET_OPTIONS) - set(flagged))
    assert not stale, "allowlisted options now set outside tests/:\n" + "\n".join(stale)
    unlisted = [o for o in flagged if o not in TEST_SET_OPTIONS]
    assert not unlisted, (
        f"{len(unlisted)} options in name only (set by no call outside tests/, "
        "or to one literal by every call):\n" + "\n".join(unlisted)
    )


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
