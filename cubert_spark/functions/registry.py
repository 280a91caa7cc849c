"""Cubert built-in scalar functions -> pyspark.sql.functions.

The reference ships the function set in
src/functions/builtin/FunctionType.java:20-67 with the factory in
FunctionFactory.java:31-118; SURVEY.md §2.8 maps each to Spark. All of
these stay JVM-side (whole-stage codegen) — none require Python UDFs.

``IsDistinct`` (reference src/functions/builtin/IsDistinct.java:31) is
the one stateful, order-dependent function; distributed semantics are
"first occurrence wins within an ordering", expressed here as a
window-ranked helper rather than per-task mutable state.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: SEQNO (SeqNo.java:34-43): a DENSE 1-based per-JVM counter (static
#: `seqno = 1`, incremented per eval; separate map tasks each restart
#: at 1, so values repeat ACROSS tasks — only within one JVM are they
#: non-overlapping). Spark spelling with the same semantics and zero
#: shuffle: monotonically_increasing_id() is
#: (partition_id << 33) | row_in_partition, so its low 33 bits are
#: exactly the dense 0-based row counter of the task — mask + 1
#: reproduces the dense 1-based per-task sequence (pytest-pinned in
#: test_schema_functions.test_seqno_dense_per_task). For a globally
#: UNIQUE (non-dense) id use UNIQUEID. The .cmr frontend emits this
#: text for both of its SEQNO() spellings.
SEQNO_SQL = f"((monotonically_increasing_id() & {(1 << 33) - 1}) + 1)"


def full_match_regex(pattern: str) -> str:
    """MATCHES is a FULL-string match (Match.java:37 /
    CompiledRegex.matches()); Spark's RLIKE/regexp_like is find(), so
    the pattern is anchored."""
    return f"^(?:{pattern})$"


def _matches(a: Column, pat: str | Column) -> Column:
    if isinstance(pat, Column):
        # regexp_like accepts a Column pattern (rlike wants str)
        return F.regexp_like(a, F.concat(F.lit("^(?:"), pat, F.lit(")$")))
    return F.regexp_like(a, F.lit(full_match_regex(pat)))


def _is_distinct(df_cols: list[Column], order: list[Column]) -> Column:
    """First-seen flag per distinct key under an explicit order."""
    return F.row_number().over(Window.partitionBy(*df_cols).orderBy(*order)) == 1


#: name -> callable(*Column) -> Column. Names follow
#: FunctionType.java; arity per FunctionFactory.java.
BUILTINS: dict[str, Callable[..., Column]] = {
    # arithmetic (ArithmeticFunction.java:43)
    "ADD": lambda a, b: a + b,
    "MINUS": lambda a, b: a - b,
    "TIMES": lambda a, b: a * b,
    "DIVIDE": lambda a, b: a / b,
    "MOD": lambda a, b: a % b,
    "LSHIFT": F.shiftleft,
    "RSHIFT": F.shiftright,
    # boolean (BooleanFunction.java:37)
    "EQ": lambda a, b: a == b,
    "NE": lambda a, b: a != b,
    "LT": lambda a, b: a < b,
    "LE": lambda a, b: a <= b,
    "GT": lambda a, b: a > b,
    "GE": lambda a, b: a >= b,
    "AND": lambda a, b: a & b,
    "OR": lambda a, b: a | b,
    "NOT": lambda a: ~a,
    "IN": lambda a, *vals: a.isin(*vals),
    "IS_NULL": lambda a: a.isNull(),
    "IS_NOT_NULL": lambda a: a.isNotNull(),
    # casts (Typecast.java:30)
    "CASTTOINT": lambda a: a.cast("int"),
    "CASTTOLONG": lambda a: a.cast("long"),
    "CASTTOFLOAT": lambda a: a.cast("float"),
    "CASTTODOUBLE": lambda a: a.cast("double"),
    "CASTTOSTRING": lambda a: a.cast("string"),
    # misc
    "NVL": F.coalesce,  # Nvl.java:30
    "MATCHES": _matches,  # Match.java:37
    "CONCAT": F.concat,  # Concat.java:34
    # SIZEOF (Sizeof.java:33): bag/map size; for strings use LENGTH
    # (dispatch is static in Spark's analyzer, so the string case is a
    # separate entry rather than a runtime branch).
    "SIZEOF": F.size,
    "LENGTH": F.length,
    "TOBYTEARRAY": lambda a: F.encode(a.cast("string"), "UTF-8"),  # ToByteArray.java:32
    "UNIQUEID": lambda: F.monotonically_increasing_id(),  # UniqueId.java:32
    "SEQNO": lambda: F.expr(SEQNO_SQL),  # SeqNo.java:34-43
}


def case(*branches: Column, default: Column | None = None) -> Column:
    """Cubert CASE(cond1, val1, cond2, val2, ...) (Case.java:30)."""
    if len(branches) % 2 != 0:
        raise ValueError("CASE takes (condition, value) pairs")
    it = iter(branches)
    col: Column | None = None
    for cond in it:
        val = next(it)
        col = F.when(cond, val) if col is None else col.when(cond, val)
    assert col is not None
    return col.otherwise(default) if default is not None else col


def call(name: str, *args: Column) -> Column:
    """Invoke a Cubert built-in by name."""
    key = name.upper()
    if key == "CASE":
        return case(*args)
    if key not in BUILTINS:
        raise KeyError(f"unknown Cubert function {name!r}")
    return BUILTINS[key](*args)


def cubert_expr(df: DataFrame, expression: str) -> Column:
    """Evaluate a SQL-ish expression against a DataFrame.

    Cubert expressions (grammar CubertPhysical.g4:135-167) are a subset
    of Spark SQL expressions: arithmetic, boolean ops, IN, IS [NOT]
    NULL, CASE, nested refs ``a.b.c``. Map access ``a#'key'`` becomes
    ``a['key']``.
    """
    import re

    sql = re.sub(r"#'([^']*)'", r"['\1']", expression)
    sql = re.sub(r'#"([^"]*)"', r'["\1"]', sql)
    return F.expr(sql)


def yyyymmdd_to_date(col: Column) -> Column:
    """Cubert int dates (yyyyMMdd, src/utils/DateTimeUtilities.java:25)
    -> DateType."""
    return F.to_date(col.cast("string"), "yyyyMMdd")


def date_to_yyyymmdd(col: Column) -> Column:
    """DateType -> Cubert int date."""
    return F.date_format(col, "yyyyMMdd").cast("int")


def sizeof(col: Column) -> Column:
    """SIZEOF for array/map columns (use F.length for strings)."""
    return F.size(col)


def is_distinct(key_cols: list[Column], order_cols: list[Column]) -> Column:
    """Order-dependent first-seen flag (IsDistinct.java:31). Requires an
    explicit deterministic ordering — distributed engines have no 'file
    order'."""
    return _is_distinct(key_cols, order_cols)
