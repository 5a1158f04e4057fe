"""Quoting for SQL text built from request values.

Node expressions are built as SQL strings: one ``where``/``selectExpr``
call per node, instead of one py4j round trip per Column operator. Every
value that comes from a request (band labels, timestamps, coordinates)
goes through :func:`lit`, and every column name built from one goes
through :func:`ident`; nothing else from a request is pasted into SQL.
"""

from __future__ import annotations

import math


def lit(v) -> str:
    """``v`` as a Spark SQL literal: a float as DOUBLE (exact: ``repr``
    round-trips), a str as STRING."""
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{v!r}D"
        return f"CAST('{v!r}' AS DOUBLE)"  # 'nan', 'inf', '-inf'
    if isinstance(v, str):
        # backslash is the escape character of Spark string literals
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + str(name).replace("`", "``") + "`"
