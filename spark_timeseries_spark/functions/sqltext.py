"""Wide expressions as one parsed Spark SQL expression.

Why: under PySpark 4.1 every ``Column`` method and ``F.col`` capture the
Python call site for error messages, and each capture costs the driver
several py4j round trips (the active session, a reflection lookup, a conf
read, setting and clearing the JVM-side origin). A builder that makes
hundreds of Column calls — 64 aliased aggregates, 16 bands of 4 casts —
spends its build time on the gateway, not in Catalyst. ``F.expr`` parses
a whole expression in one call. So a builder whose expression is wide or
repeated writes it as SQL text and parses it once.

The rule: a caller's column name goes into SQL text only through
:func:`ident`, and a caller's value only through :func:`literal` — never
spliced in raw, so a name with a space, a dot or a backtick, or a string
with a quote, cannot change the expression. The text must parse to the
expression the Column API would have built. The traps:

- ``0.5`` parses as DECIMAL; the DOUBLE that ``F.lit(0.5)`` makes is
  ``0.5D``. Integer literals match (``5`` is INT, as ``F.lit(5)``).
- Backslashes escape inside SQL string literals, so the regex ``\\s+``
  is the literal ``'\\\\s+'``. :func:`literal` doubles them; pass the
  regex as Java sees it. This assumes the session's default
  ``spark.sql.parser.escapedStringLiterals=false``, as ``spark.sql``
  text does.
- ``F.struct(x.alias("a"))`` prints as ``struct`` and SQL writes
  ``named_struct('a', x)``; it is the same expression.
- A lambda variable shadows a column of the same name, quoted or not, so
  a caller's column is referenced outside every lambda body (bind it
  with a ``transform(array(x), v -> ...)[0]`` let, as the Column API's
  ``let`` does).
- A function alias prints under the name written: ``substr`` and
  ``substring`` build one expression but print differently, so write the
  name the Column API prints (``Column.substr`` prints ``substr``,
  ``F.substring`` prints ``substring``).
- A flat chain ``a AND b AND c`` parses as a balanced tree; parenthesize
  it to get the left-deep tree a Python ``&`` fold builds.
"""

from __future__ import annotations

import math
import numbers
from typing import Callable, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier: one top-level column, so a dot
    is part of the name (``F.col`` would read it as a field path)."""
    return "`" + name.replace("`", "``") + "`"


def literal(value: str | bool | int | float) -> str:
    """``value`` as the SQL literal of the type ``F.lit(value)`` makes:
    a quoted string, a BOOLEAN, an INT (a BIGINT past 32 bits, as both
    sides promote it), or a DOUBLE. A NumPy scalar is read as the Python
    int or float it holds."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, numbers.Integral):
        return str(int(value))
    if isinstance(value, numbers.Real):
        value = float(value)
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value}' AS DOUBLE)"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def solve_linear(aug: str, n: int, rtol: float) -> str:
    """SQL text of the ``ARRAY<DOUBLE>`` solving an ``n×n`` system by
    Gaussian elimination with partial pivoting. ``aug`` is the text of
    the augmented matrix, an ``ARRAY<ARRAY<DOUBLE>>`` whose row ``i`` is
    ``[a_i0, ..., a_i(n-1), b_i]``; it is evaluated once.

    A column whose pivot is at most ``rtol`` times the largest absolute
    diagonal entry is skipped and its unknown is 0: the solution of the
    system with that column removed, so a singular system of normal
    equations still gets the fit on its independent columns. The pivot
    row search, the swap and the elimination of column ``k`` are one
    step of an ``aggregate`` over ``sequence(0, n-1)``; back substitution
    is a second ``aggregate`` over the pivot rows."""
    last = n - 1
    step = (
        # s: (m matrix, r next pivot row, piv pivot row of each column or -1)
        f"transform(array(array_max(transform(sequence(s.r, {last}),"
        f" i -> named_struct('a', abs(s.m[i][k]), 'i', i)))), b ->"
        f" CASE WHEN b.a <= tol"
        f" THEN named_struct('m', s.m, 'r', s.r, 'piv', concat(s.piv, array(-1)))"
        f" ELSE transform(array(transform(s.m, (u, i) -> CASE WHEN i = s.r"
        f" THEN s.m[b.i] WHEN i = b.i THEN s.m[s.r] ELSE u END)), q ->"
        f" named_struct('m', transform(q, (u, i) -> CASE WHEN i > s.r"
        f" THEN zip_with(u, q[s.r], (x, y) -> x - u[k] / q[s.r][k] * y)"
        f" ELSE u END), 'r', s.r + 1, 'piv', concat(s.piv, array(s.r))))[0]"
        f" END)[0]"
    )
    back = (
        # x: the unknowns solved so far (columns > k), 0 elsewhere
        f"CASE WHEN e.piv[k] < 0 THEN x ELSE transform(x, (v, j) ->"
        f" CASE WHEN j = k THEN (e.m[e.piv[k]][{n}] - aggregate(sequence(0, {last}),"
        f" 0D, (t, c) -> t + e.m[e.piv[k]][c] * x[c])) / e.m[e.piv[k]][k]"
        f" ELSE v END) END"
    )
    return (
        f"transform(array({aug}), a -> transform(array({literal(float(rtol))}"
        f" * array_max(transform(sequence(0, {last}), i -> abs(a[i][i])))), tol ->"
        f" transform(array(aggregate(sequence(0, {last}),"
        f" named_struct('m', a, 'r', 0, 'piv', CAST(array() AS ARRAY<INT>)),"
        f" (s, k) -> {step})), e ->"
        f" aggregate(sequence({last}, 0, -1), array_repeat(0D, {n}),"
        f" (x, k) -> {back}))[0])[0])[0]"
    )


def expr_over(col: ColumnOrName, body: Callable[[str], str]) -> Column:
    """One parsed expression over ``col``; ``body`` maps the SQL text that
    stands for ``col`` to the expression's text. A column name is quoted
    in place, so the plan is the one the Column API builds over
    ``F.col(name)``. A Column has no SQL text: it is bound once per row as
    in :func:`~spark_timeseries_spark.functions.let` and the body sees it
    as the lambda variable ``_v``."""
    if isinstance(col, str):
        return F.expr(body(ident(col)))
    return F.call_function(
        "transform", F.array(col), F.expr(f"_v -> {body('_v')}")
    )[0]
