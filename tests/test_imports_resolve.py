"""Every ``deduplication_challenge_spark`` import in the repo resolves.

Tools and many tests import inside functions, so a deleted module or name
would otherwise surface only when someone runs that tool or test.  This
scans the package, ``tools/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py`` and ``tests/`` with ``ast`` (module-level and
function-local imports, absolute and relative), imports each named module
and checks each imported name.  No Spark session is started."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

PKG = "deduplication_challenge_spark"
ROOT = Path(__file__).resolve().parent.parent
SCANNED = [PKG, "tools", "perfbench", "bench.py", "__spark_entry__.py", "tests"]


def _package_imports(path: Path, source: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name-or-None) for each import of PKG in ``source``;
    relative imports are resolved against ``path``'s package."""
    pkg_parts = list(path.relative_to(ROOT).parent.parts)
    out = []
    for node in ast.walk(ast.parse(source, str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[: len(pkg_parts) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            out += [(node.lineno, module, a.name) for a in node.names]
    return [t for t in out if t[1] == PKG or t[1].startswith(PKG + ".")]


def _unresolved(module: str, name: str | None) -> str | None:
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return f"module {module}: {e}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    try:
        importlib.import_module(f"{module}.{name}")  # a submodule
    except ImportError:
        return f"{module} has no {name}"
    return None


def _files() -> list[Path]:
    files = []
    for entry in SCANNED:
        p = ROOT / entry
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return files


def test_every_package_import_resolves():
    checked, failures = 0, []
    for path in _files():
        for line, module, name in _package_imports(path, path.read_text()):
            checked += 1
            err = _unresolved(module, name)
            if err:
                failures.append(f"{path.relative_to(ROOT)}:{line}: {err}")
    assert not failures, "\n".join(failures)
    # the scan must actually see the repo's imports, not pass on nothing
    assert checked > 100


def test_scan_reports_deleted_names():
    """Function-local, relative and absolute imports of missing modules or
    names are all reported."""
    src = (
        "def f():\n"
        f"    from {PKG}.no_such_module import x\n"
        f"    from {PKG}.config import NoSuchName\n"
        "    from .config import DedupConfig\n"
    )
    path = ROOT / PKG / "operators" / "probe.py"
    found = _package_imports(path, src)
    assert found == [
        (2, f"{PKG}.no_such_module", "x"),
        (3, f"{PKG}.config", "NoSuchName"),
        (4, f"{PKG}.operators.config", "DedupConfig"),
    ]
    assert _unresolved(*found[0][1:]) is not None
    assert _unresolved(*found[1][1:]) is not None
    assert _unresolved(*found[2][1:]) is not None
    assert _unresolved(f"{PKG}.config", "DedupConfig") is None
