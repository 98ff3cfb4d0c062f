"""Every top-level def in the package is reached from an entry point.

A name-based reachability pass over the package's top-level defs
(functions, classes and module-level assignments).  The roots are the
entry points: every def of the CLI, session, pipeline and resumable
streaming-run modules, the 50-key query registry
(``benchqueries._registry``) and the scripts that drive the package from
outside it (``bench.py``, ``perfbench/``, ``tools/rehearse_driver.py``,
``tools/audit_differential.py``).  A def is reached when its name is used
(a ``Name`` or an ``Attribute``, f-string expressions included) in code
that is already reached.  Docstrings, comments, other string constants
and import statements do not count, so an import that nothing uses keeps
nothing alive.  Any two defs that share a name count as one, which makes
the pass an over-approximation: a def it reports is unreached for sure.

Unreached package code must either be deleted or be listed in
``ALLOWED`` with a one-line reason.  Pure Python; no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "warc2text_spark"

ROOT_MODULES = ("cli.py", "__main__.py", "session.py", "plans/pipeline.py",
                "streaming/stream_pipeline.py")
ROOT_DEFS = (("plans/benchqueries.py", "_registry"),)
ROOT_FILES = ("bench.py", "perfbench", "tools/rehearse_driver.py",
              "tools/audit_differential.py")

# (module, def) -> reason
ALLOWED = {
    ("__init__.py", "__version__"):
        "package version string, public metadata that no code reads",
    ("functions/jpegpixels.py", "jpeg_flat_size"):
        "closed-form size law of the JPEG encoder, pinned by its tests",
    ("functions/pngpixels.py", "png_encoded_size"):
        "closed-form size law of the PNG encoder, pinned by its tests",
    ("functions/aviriff.py", "avi_mjpeg_size"):
        "closed-form size law of the AVI writer, pinned by its tests",
    ("functions/urlutil.py", "url_filter_ok"):
        "Python twin of the native URL filter, kept for differential tests",
    ("functions/urlutil.py", "STATUS_RE"):
        "Python twin of the native HTTP-status filter regex",
    ("functions/paragraph.py", "paragraph_id"):
        "Python twin of the native paragraph-id tag",
    ("functions/record.py", "ERROR_NAMES"):
        "reference error-code names, kept beside the codes they name",
    ("functions/scanner.py", "TT_PI_START"):
        "reference token-type enum value, kept for the complete enum",
    ("functions/scanner.py", "TT_PI_END"):
        "reference token-type enum value, kept for the complete enum",
}


def _used_names(nodes) -> set[str]:
    """Names used in code under ``nodes``: ``Name`` ids and ``Attribute``
    attrs.  Import statements are skipped; docstrings and other string
    constants never appear as names."""
    out: set[str] = set()
    stack = list(nodes)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _def_names(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [n.id for t in stmt.targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def package_defs():
    """``{(module, name): (lines, used names)}`` for every top-level def,
    and the names used by module-level statements that are not defs."""
    defs, loose = {}, set()
    pkg = REPO / PKG
    for path in sorted(pkg.rglob("*.py")):
        mod = path.relative_to(pkg).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            names = _def_names(stmt)
            if not names:
                loose |= _used_names([stmt])
                continue
            start = min([stmt.lineno] + [d.lineno for d in
                                         getattr(stmt, "decorator_list", [])])
            lines = stmt.end_lineno - start + 1
            used = _used_names([stmt])
            for name in names:
                defs[(mod, name)] = (lines, used)
    return defs, loose


def unreached() -> dict[tuple[str, str], int]:
    """``{(module, name): def-lines}`` for every def no root reaches."""
    defs, names = package_defs()
    for mod, name in defs:
        if mod in ROOT_MODULES or (mod, name) in ROOT_DEFS:
            names |= defs[(mod, name)][1]
    names |= {name for mod, name in defs if mod in ROOT_MODULES}
    names |= {name for _, name in ROOT_DEFS}
    for root in ROOT_FILES:
        p = REPO / root
        for path in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            names |= _used_names([ast.parse(path.read_text())])
    reached: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, (_, used) in defs.items():
            if key not in reached and key[1] in names:
                reached.add(key)
                names |= used
                grew = True
    return {k: v[0] for k, v in defs.items() if k not in reached}


def test_every_package_def_is_reached_or_allowed():
    gone = unreached()
    bad = {k: n for k, n in gone.items() if k not in ALLOWED}
    listing = "\n".join(f"  {mod}:{name} ({n} lines)"
                        for (mod, name), n in sorted(bad.items()))
    assert not bad, (f"{len(bad)} package defs ({sum(bad.values())} lines) "
                     f"are reached from no entry point:\n{listing}")
    # a stale allow-list entry would let the same name slip through later
    for mod, name in ALLOWED:
        assert (mod, name) in gone, \
            f"{mod}:{name} is reached or gone; unlist it"
