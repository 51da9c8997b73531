"""Every package module is reached from a real surface (no Spark).

A module that no CLI, pipeline, query-entry, benchmark or tool path
imports is dead weight: it must earn a caller or be deleted. Imports are
read with ``ast`` (absolute and relative, at any depth — function-level
imports count) and followed transitively from the surface scripts.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hikma_engine_spark"

ROOTS = [
    "main.py",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    *sorted(
        os.path.relpath(p, ROOT)
        for pattern in ("perfbench/*.py", "tools/*.py")
        for p in glob.glob(os.path.join(ROOT, pattern))
    ),
]

# modules allowed to have no importer on a surface path, with the reason
# (their parent packages are allowed with them)
UNREACHED_OK = {
    # documented optional front-end (Structured Streaming micro-batches
    # into Pipeline.run_incremental); exercised by tests/test_streaming.py
    f"{PKG}.streaming.ingest": "optional streaming layer",
    # assertable explain() helpers for tests/test_plans.py
    f"{PKG}.plans.inspect": "plan assertions used by the plan tests",
}


def _with_parents(names) -> set[str]:
    return {
        ".".join(n.split(".")[:i])
        for n in names
        for i in range(1, n.count(".") + 2)
    }


def _package_modules() -> dict[str, str]:
    """Dotted module name → file path, for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imports(path: str, module: str | None, is_pkg: bool) -> set[str]:
    """Dotted names a file imports, relative imports resolved. For
    ``from X import y`` both ``X`` and ``X.y`` are yielded (y may be a
    submodule)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = (module or "").split(".")
                base = parts if is_pkg else parts[:-1]
                base = base[: len(base) - (node.level - 1)]
                prefix = ".".join(base + ([node.module] if node.module else []))
            else:
                prefix = node.module or ""
            out.add(prefix)
            out.update(f"{prefix}.{a.name}" for a in node.names)
    return out


def _reached() -> set[str]:
    mods = _package_modules()
    seen: set[str] = set()
    todo = [(os.path.join(ROOT, r), None, False) for r in ROOTS]
    while todo:
        path, module, is_pkg = todo.pop()
        for name in _imports(path, module, is_pkg):
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in seen:
                    seen.add(dotted)
                    todo.append(
                        (mods[dotted], dotted, mods[dotted].endswith("__init__.py"))
                    )
    return seen


def test_surface_roots_exist():
    missing = [r for r in ROOTS if not os.path.exists(os.path.join(ROOT, r))]
    assert not missing
    assert any(r.startswith("perfbench/") for r in ROOTS)
    assert any(r.startswith("tools/") for r in ROOTS)


def test_every_package_module_is_reached():
    mods = set(_package_modules())
    reached = _reached()
    unreached = sorted(mods - reached - _with_parents(UNREACHED_OK))
    assert not unreached, f"no surface imports: {unreached}"
    # an exception that gains a caller no longer needs its entry
    stale = sorted(set(UNREACHED_OK) & reached)
    assert not stale, f"reached now, drop from UNREACHED_OK: {stale}"
    assert set(UNREACHED_OK) <= mods
