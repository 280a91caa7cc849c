"""Import-resolution guard: every ``import cubert_spark…`` and
``from cubert_spark… import name`` in the package, module-level or lazy
inside a function body, must resolve. A dangling import left by a
deleted module otherwise surfaces only when its (possibly rare) branch
runs. Needs no SparkSession."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

_PKG = pathlib.Path(__file__).resolve().parent.parent / "cubert_spark"


def _package_imports():
    """(file:line, module, names) for every cubert_spark import;
    ``names`` is empty for a plain ``import cubert_spark.x``."""
    for path in sorted(_PKG.rglob("*.py")):
        where = path.relative_to(_PKG.parent)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "cubert_spark":
                        yield f"{where}:{node.lineno}", alias.name, []
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                if (node.module or "").split(".")[0] == "cubert_spark":
                    names = [a.name for a in node.names if a.name != "*"]
                    yield f"{where}:{node.lineno}", node.module, names


def test_every_package_import_resolves():
    found = list(_package_imports())
    assert len(found) > 100  # the walk really saw the package
    broken = []
    for where, module, names in found:
        if importlib.util.find_spec(module) is None:
            broken.append(f"{where}: no module {module}")
            continue
        mod = importlib.import_module(module)
        for name in names:
            if not hasattr(mod, name) and (
                importlib.util.find_spec(f"{module}.{name}") is None
            ):
                broken.append(f"{where}: {module} has no {name}")
    assert not broken, "\n".join(broken)
