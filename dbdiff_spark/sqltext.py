"""Spark SQL text quoting for planners that build projections as
expression strings (``selectExpr`` / ``F.expr``) rather than Column-DSL
calls.

Under PySpark 4 every Column-DSL call is wrapped in ``_with_origin``,
which records the Python call site in the JVM — several py4j round trips
per ``F.col``/``alias``/``cast``.  A projection over N columns built that
way costs thousands of driver↔JVM calls, while the same projection as
SQL text is one call per expression string.  Text is only safe when
every user-supplied name and value is quoted, which is all this module
does.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """A backquoted identifier: any column name, including ones with
    dots, spaces, quotes, backticks or non-ASCII text, refers to exactly
    that top-level column (an embedded backtick is doubled)."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(value: str) -> str:
    """A single-quoted string literal whose value is exactly ``value``
    under Spark's default (escape-processing) literal parser."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"

