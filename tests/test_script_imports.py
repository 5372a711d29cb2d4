"""Every package import in the scripts resolves. The probe scripts under
``tools/``, the bench scripts, perfbench and the driver contract import
package names that no tier-1 test runs, so a deletion that breaks one
would show only when someone runs that script. This imports each named
module and looks each imported name up; no Spark session starts."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "wroclaw_bike_stats_spark"

SCRIPTS = [
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "scale_bench.py",
    ROOT / "__spark_entry__.py",
]


def _package_imports(path: Path) -> set[tuple[str, str | None]]:
    """(module, name) per ``from <pkg module> import name`` and
    (module, None) per ``import <pkg module>``, anywhere in ``path``."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module.split(".")[0] == PKG:
                out.update((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            out.update(
                (a.name, None) for a in node.names if a.name.split(".")[0] == PKG
            )
    return out


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.relative_to(ROOT).as_posix())
def test_script_package_imports_resolve(path):
    missing = []
    for module, name in sorted(_package_imports(path), key=str):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{path.name} imports names that do not exist: {missing}"
