"""Regrowth guard: every package module must be reachable from an entry point.

A module that only its own test imports is code no query, workload or user
runs. The graph is built from the source with ``ast`` (no import, no Spark):
every ``import`` / ``from ... import`` anywhere in a module, function-local
ones included, is an edge.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "movie_recommendation_etl_spark"

# The entry points: the Stage T pipeline, the query registry, the CLI, the
# ``python -m`` dispatcher and the oracle contract at the repo root.
ROOTS = (
    f"{PKG}.pipeline",
    f"{PKG}.plans.all",
    f"{PKG}.cli",
    f"{PKG}.__main__",
    "__spark_entry__",
)

# Unreached modules whose deletion is scheduled but not yet done. This list
# may only shrink: an entry that becomes reachable or disappears fails below.
PENDING_DELETION = {
    f"{PKG}.operators.multimodal",
}


def _module_files() -> dict[str, Path]:
    files = {"__spark_entry__": REPO / "__spark_entry__.py"}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        files[".".join(parts)] = path
    return files


def _imports(name: str, path: Path, known: set[str]) -> set[str]:
    is_pkg = path.name == "__init__.py"
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{alias.name}" for alias in node.names)
    # Importing a submodule runs every enclosing package's __init__ too.
    closed: set[str] = set()
    for mod in out:
        parts = mod.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return closed & known


def unreached_modules() -> set[str]:
    files = _module_files()
    known = set(files)
    seen: set[str] = set()
    stack = [r for r in ROOTS if r in known]
    while stack:
        mod = stack.pop()
        if mod in seen:
            continue
        seen.add(mod)
        stack.extend(_imports(mod, files[mod], known) - seen)
    return known - seen


def test_roots_exist():
    files = _module_files()
    assert [r for r in ROOTS if r not in files] == []


def test_every_package_module_is_reachable():
    unreached = unreached_modules()
    assert sorted(unreached - PENDING_DELETION) == [], (
        "modules no entry point imports; wire them into a query, workload "
        "or CLI command, or delete them"
    )


def test_pending_deletions_are_still_unreached():
    # Keeps PENDING_DELETION tight: drop an entry once its module is deleted
    # or gains a real caller.
    assert sorted(PENDING_DELETION - unreached_modules()) == []
