"""Every package module and every top-level definition earns a caller
outside tests. A static walk (plain ``ast``, no Spark session) starts
at the program's entry points:

- a module is reached when an entry point or a reached module imports
  it, function bodies included (the package imports lazily);
- a top-level ``def``/``class`` of a reached module is reached when
  reached code names it outside the definition's own body: an entry
  point, a reached module's top-level statements, or the body of a
  definition already reached. Names that appear only inside unreached
  definitions do not count, so an orphaned private helper shows too.

Names match by spelling alone: a plain name, an attribute, an imported
name or an ``__all__`` entry. That errs towards "reached", never the
other way, and the package looks up none of its own definitions
through ``getattr`` or ``globals()``. What stays unreached is kept
below with a reason."""

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

# Modules (dotted name) and definitions (``module.name``) no entry point
# reaches that stay, each with its reason.
KEPT = {
    f"{PKG}.operators.snapshot_diff.diff_snapshot_pair": (
        "the reference's pairwise diff; tests check the series diff "
        "against it"
    ),
    f"{PKG}.plans.range_metrics.range_busiest_stations_exact": (
        "SURVEY Phase 4 exact range variant; ROADMAP E gives it a caller"
    ),
    f"{PKG}.plans.range_metrics.range_top_routes_exact": (
        "SURVEY Phase 4 exact range variant; ROADMAP E gives it a caller"
    ),
    f"{PKG}.plans.range_metrics._range_facts": (
        "the shared body of the two exact range variants above"
    ),
    f"{PKG}.plans.range_metrics.nearest_available_date": (
        "SURVEY §2.5's as-of date lookup of the UI's range views"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _imports(path: Path) -> set[str]:
    """Package modules ``path`` imports anywhere in its code."""
    names = set()
    for node in ast.walk(_parse(path)):
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


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` spells: plain names, attributes, imported
    names and ``__all__`` entries."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif (
            isinstance(n, ast.Assign)
            and any(getattr(t, "id", None) == "__all__" for t in n.targets)
            and isinstance(n.value, (ast.List, ast.Tuple))
        ):
            out.update(e.value for e in n.value.elts)
    return out


def _unreached_definitions(modules: set[str]) -> set[str]:
    """``module.name`` of each top-level definition of ``modules`` that
    reached code does not name, walked to a fixpoint."""
    named: set[str] = set()
    for path in ENTRY_POINTS:
        if not path.is_relative_to(ROOT / PKG):
            named |= _names(_parse(path))
    pending = {}
    for mod in modules:
        for stmt in _parse(_module_file(mod)).body:
            if isinstance(stmt, _DEFS):
                pending[f"{mod}.{stmt.name}"] = stmt
            else:
                named |= _names(stmt)
    grew = True
    while grew:
        grew = False
        for qual, stmt in list(pending.items()):
            if stmt.name in named:
                named |= _names(stmt)
                del pending[qual]
                grew = True
    return set(pending)


def _kept_modules() -> set[str]:
    return {k for k in KEPT if _module_file(k)}


def test_every_package_module_is_reached_outside_tests():
    unreached = _package_modules() - _reached()
    kept = _kept_modules()
    assert unreached == kept, (
        "modules only tests import (delete them, give them a caller, or "
        f"keep them in KEPT with a reason): {sorted(unreached - kept)}; "
        f"kept modules that gained a caller: {sorted(kept - unreached)}"
    )


def test_every_package_definition_is_reached_outside_tests():
    unreached = _unreached_definitions(_reached())
    kept = set(KEPT) - _kept_modules()
    assert unreached == kept, (
        "definitions no reached code names (delete them, give them a "
        f"caller, or keep them in KEPT with a reason): "
        f"{sorted(unreached - kept)}; kept definitions that gained a "
        f"caller or are gone: {sorted(kept - unreached)}"
    )
