"""Every package module must be reached by an import chain from
something graded, benchmarked or on the paper's surface (ROADMAP north
star: no module that nothing graded, benchmarked or in the paper's
surface reaches). The walk parses import statements with ``ast`` and
imports nothing; imports inside function bodies count. A module that
only its own tests import shows up here as unreached."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "regpulse_lakehouse_spark"

# the registry (load_all imports every query module), the governed
# ingestion (pipelines, streaming ledger + stream_scan, the Delta log),
# the scrape stage and the lineage graph with its layout and fixtures
ROOT_MODULES = [
    "queries",
    "pipelines",
    "streaming",
    "operators.delta_log",
    "sources.html",
    "operators.lineage",
    "sources.layout",
    "sources.fixtures",
]
ROOT_SCRIPTS = [
    "__spark_entry__.py",
    "bench.py",
    "scripts/driver_replica.py",
    *sorted(p.relative_to(REPO).as_posix() for p in (REPO / "perfbench").glob("*.py")),
]

# Reached only by its own tests: the next deletion of ROADMAP item 4.
# Delete a module, then drop it from this set.
UNREACHED = {"operators.rasters"}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, package: str) -> set[str]:
    """Dotted names the import statements in ``path`` name, resolving
    relative imports against ``package``. ``from a import b`` names
    both ``a`` and ``a.b``; the caller keeps the names that are
    modules."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                anchor = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reached(mods: dict[str, Path]) -> set[str]:
    todo = [f"{PKG}.{m}" for m in ROOT_MODULES]
    for script in ROOT_SCRIPTS:
        todo.extend(_imports(REPO / script, ""))
    seen: set[str] = set()
    while todo:
        parts = todo.pop().split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in mods and name not in seen:
                seen.add(name)
                is_pkg = mods[name].name == "__init__.py"
                todo.extend(_imports(mods[name], name if is_pkg else name.rpartition(".")[0]))
    return seen


def test_only_the_pinned_modules_are_unreached():
    mods = _package_modules()
    missing = [m for m in ROOT_MODULES if f"{PKG}.{m}" not in mods]
    missing += [s for s in ROOT_SCRIPTS if not (REPO / s).exists()]
    assert not missing, f"walk roots not found: {missing}"
    unreached = {m.removeprefix(f"{PKG}.") for m in set(mods) - _reached(mods)}
    assert unreached == UNREACHED
