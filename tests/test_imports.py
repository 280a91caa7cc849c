"""Import-resolution guard: every ``import cubert_spark…`` and
``from cubert_spark… import name``, module-level or lazy inside a
function body, must resolve — in the package itself and in what calls
it (the tests, ``tools/``, ``perfbench/``, ``bench.py`` and the driver
entry). A dangling import left by a deleted module or name otherwise
surfaces only when its (possibly rare) branch runs, or only in a
benchmark run. Needs no SparkSession."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_PKG = _ROOT / "cubert_spark"
_CALLERS = ("tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _imports(paths):
    """(file:line, module, names) for every cubert_spark import in the
    ``.py`` files under ``paths``; ``names`` is empty for a plain
    ``import cubert_spark.x``."""
    for path in sorted(paths):
        where = path.relative_to(_ROOT)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "cubert_spark":
                        yield f"{where}:{node.lineno}", alias.name, []
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                if (node.module or "").split(".")[0] == "cubert_spark":
                    names = [a.name for a in node.names if a.name != "*"]
                    yield f"{where}:{node.lineno}", node.module, names


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:  # a parent is a plain module, not a package
        return False


def _unresolved(found) -> list[str]:
    broken = []
    for where, module, names in found:
        if not _is_module(module):
            broken.append(f"{where}: no module {module}")
            continue
        mod = importlib.import_module(module)
        for name in names:
            if not hasattr(mod, name) and not _is_module(f"{module}.{name}"):
                broken.append(f"{where}: {module} has no {name}")
    return broken


def test_every_package_import_resolves():
    found = list(_imports(_PKG.rglob("*.py")))
    assert len(found) > 100  # the walk really saw the package
    broken = _unresolved(found)
    assert not broken, "\n".join(broken)


def test_every_caller_import_resolves():
    paths = []
    for name in _CALLERS:
        p = _ROOT / name
        paths += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    found = list(_imports(paths))
    seen = {where.split("/")[0].split(":")[0] for where, _, _ in found}
    assert set(_CALLERS) <= seen, seen  # every caller really was walked
    broken = _unresolved(found)
    assert not broken, "\n".join(broken)
