"""Logical expressions: column refs, literals, comparisons, casts, aggregates.

Mirrors the reference's expression surface (reference:
src/logical_plan/mod.rs:244-625) and completes the parts it stubs:

- ``col`` / ``ColumnIndex``   ← src/logical_plan/mod.rs:312-373
- ``lit_string`` / ``lit_long`` ← src/logical_plan/mod.rs:375-425
- equality (``==`` on Columns)  ← src/logical_plan/mod.rs:585-625
- ``cast``                     ← src/logical_plan/mod.rs:557-583 (the
  reference declares CastExpr but never lowers it — the planner panics
  at src/query_planner/mod.rs:131; here it is fully functional)
- AND / OR / NOT / < <= > >= != / arithmetic — the reference stubs
  AndExpression (src/physical_plan/expression/mod.rs:116-143) and has
  no other comparisons; Spark Columns provide them all natively.
- aggregates ``min``/``max``/``count``/``sum``/``avg`` ←
  src/logical_plan/mod.rs:460-555 (correcting the reference's
  Min→Sum lowering bug at src/query_planner/mod.rs:82-85 by simply
  delegating to Spark's correct built-ins).

Expressions *are* ``pyspark.sql.Column`` objects — they stay entirely
JVM-side and participate in whole-stage codegen; no Python evaluation
ever happens per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def col(name: str) -> Column:
    """Reference a column by name (reference: src/logical_plan/mod.rs:272-274)."""
    return F.col(name)


def lit(value) -> Column:
    """Literal of any supported type."""
    return F.lit(value)


def lit_string(value: str) -> Column:
    """String literal (reference: src/logical_plan/mod.rs:375-399)."""
    return F.lit(str(value))


def lit_long(value: int) -> Column:
    """Int64 literal (reference: src/logical_plan/mod.rs:401-425)."""
    return F.lit(int(value)).cast("bigint")


def cast(expr: Column, data_type: str) -> Column:
    """Cast an expression (completes reference src/query_planner/mod.rs:131 todo)."""
    return expr.cast(data_type)


# --- aggregate expressions (reference: src/logical_plan/mod.rs:446-555) ---


def min(expr: Column) -> Column:  # noqa: A001 - mirrors reference naming
    return F.min(expr)


def max(expr: Column) -> Column:  # noqa: A001
    return F.max(expr)


def count(expr: Column) -> Column:
    """COUNT. The reference declares Int32 output
    (src/logical_plan/mod.rs:537-541); we keep Spark/ANSI ``bigint``
    (see SURVEY.md §7.4 — intended semantics, oracle-verified)."""
    return F.count(expr)


def sum(expr: Column) -> Column:  # noqa: A001
    """SUM (the reference's physical SumExpression is Int32-only,
    src/physical_plan/accumulator/mod.rs:46-50; Spark widens properly)."""
    return F.sum(expr)


def avg(expr: Column) -> Column:
    """AVG — absent in the reference (SURVEY.md §2.5 ABSENT row)."""
    return F.avg(expr)
