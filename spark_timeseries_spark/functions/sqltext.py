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
