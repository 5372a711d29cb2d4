"""Every package module earns a caller outside tests: a static import
walk (plain ``ast``, no Spark session) from the program's entry points
reaches every module under ``wroclaw_bike_stats_spark/``, except the
ones kept below with a reason."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "wroclaw_bike_stats_spark"

# The entry points: the CLI, the driver contract, the two bench scripts
# and every perfbench script.
ENTRY_POINTS = [
    ROOT / PKG / "cli.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "scale_bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# Modules no entry point reaches that stay for now, each with its reason.
KEPT_UNREACHED = {
    f"{PKG}.catalog": "ROADMAP B: the rides table's new layout decides it",
    f"{PKG}.operators.maintenance": "ROADMAP B: reused for file-set compaction",
}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _with_packages(name: str) -> set[str]:
    """``name`` and every package above it (their ``__init__`` runs on
    import), kept where a file backs them."""
    parts = name.split(".")
    prefixes = (".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {p for p in prefixes if _module_file(p)}


def _imports(path: Path) -> set[str]:
    """Package modules ``path`` imports anywhere in its code, function
    bodies included (the package imports lazily)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        if name.split(".")[0] == PKG:
            out |= _with_packages(name)
    return out


def _reached() -> set[str]:
    seen = _with_packages(f"{PKG}.cli")
    todo = [*ENTRY_POINTS, *(_module_file(m) for m in seen)]
    while todo:
        for mod in _imports(todo.pop()) - seen:
            seen.add(mod)
            todo.append(_module_file(mod))
    return seen


def _package_modules() -> set[str]:
    out = set()
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        out.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return out


def test_every_package_module_is_reached_outside_tests():
    unreached = _package_modules() - _reached()
    assert unreached == set(KEPT_UNREACHED), (
        "modules only tests import (delete them, give them a caller, or "
        "keep them in KEPT_UNREACHED with a reason): "
        f"{sorted(unreached - set(KEPT_UNREACHED))}; kept modules that "
        f"gained a caller: {sorted(set(KEPT_UNREACHED) - unreached)}"
    )
