"""Spelling guard: an exact double sum in operator and query code goes
through ``operators.groupby.exact_sum`` (``queries._util.dsum``), which
adds native integers. A hand-written ``cast("decimal(30,6)")`` builds a
BigDecimal per row, the cost that helper removes. The DuckDB oracle SQL
(module-level ``SQL_*`` strings and ``*_sql`` functions) keeps its
``DECIMAL(30,6)`` casts. Needs no SparkSession."""

from __future__ import annotations

import ast
import pathlib
import re

_PKG = pathlib.Path(__file__).resolve().parent.parent / "cubert_spark"
_SPELLING = re.compile(r"decimal\s*\(\s*30\s*,\s*6\s*\)", re.IGNORECASE)

#: (file, function) -> why it keeps its own DECIMAL(30,6) cast.
WAIVED = {
    ("operators/groupby.py", "exact_unscaled"): "the helper: its slow path",
    ("queries/events.py", "q_rolling_revenue"): (
        "a window-frame sum, whose oracle casts the decimal straight to "
        "double; exact_sum's per-group string step does not apply"
    ),
}


def _is_oracle(func: str | None, target: str | None) -> bool:
    return (func or "").endswith("_sql") or (target or "").startswith("SQL_")


def _hits(tree: ast.Module):
    """(line, enclosing function, module-level assignment target) for
    every non-docstring string constant that spells DECIMAL(30,6)."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }

    def walk(node, func, target):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)) and func is None:
            names = node.targets if isinstance(node, ast.Assign) else [node.target]
            target = next((n.id for n in names if isinstance(n, ast.Name)), None)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and _SPELLING.search(node.value)
        ):
            yield node.lineno, func, target
        for child in ast.iter_child_nodes(node):
            yield from walk(child, func, target)

    yield from walk(tree, None, None)


def test_decimal_30_6_casts_go_through_the_exact_sum_helper():
    found, stray = set(), []
    for sub in ("operators", "queries"):
        for path in sorted((_PKG / sub).rglob("*.py")):
            rel = path.relative_to(_PKG).as_posix()
            for line, func, target in _hits(ast.parse(path.read_text())):
                if _is_oracle(func, target):
                    continue
                if (rel, func) in WAIVED:
                    found.add((rel, func))
                else:
                    stray.append(f"cubert_spark/{rel}:{line} in {func or target}")
    assert not stray, "use operators.groupby.exact_sum:\n" + "\n".join(stray)
    assert found == set(WAIVED), f"stale waivers: {set(WAIVED) - found}"
