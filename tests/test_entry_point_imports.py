"""Every package name the benchmark harnesses and tools import must exist.

``bench.py``, ``perfbench/*.py`` and ``tools/*.py`` import the package
lazily, inside functions, so a deleted or renamed name fails only when
that code path runs — for perfbench, as a failed operation in every
benchmark run rather than as a test failure. This walks their imports
by AST (no Spark session) and resolves each one.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "neo4j_to_clickhouse_spark"


def _package_imports() -> list[tuple[str, str, str | None]]:
    """(file, module, name) for every ``from PACKAGE... import name`` and
    ``import PACKAGE...`` (name None) in the entry-point scripts."""
    files = [ROOT / "bench.py", *sorted((ROOT / "perfbench").glob("*.py"))]
    files += sorted((ROOT / "tools").glob("*.py"))
    found = []
    for path in files:
        rel = str(path.relative_to(ROOT))
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                if (node.module or "").split(".")[0] == PACKAGE:
                    found += [(rel, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                found += [
                    (rel, a.name, None)
                    for a in node.names
                    if a.name.split(".")[0] == PACKAGE
                ]
    return found


def test_entry_point_imports_resolve():
    imports = _package_imports()
    assert any(f.startswith("perfbench/") for f, _, _ in imports)
    missing = []
    for rel, module, name in imports:
        try:
            mod = importlib.import_module(module)
        except ImportError as err:
            missing.append(f"{rel}: {module} ({err})")
            continue
        if name is None or hasattr(mod, name):
            continue
        try:  # `from pkg import submodule`
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{rel}: {module}.{name}")
    assert not missing, missing
