"""Spark SQL text for the hot-path expression builders.

A Column tree is built one Python->JVM round trip per node (every
function, literal and column reference); the same expression handed to
the engine as SQL text costs one round trip per ``selectExpr`` /
``F.expr`` / ``agg``, and Catalyst parses it into the same tree.  The
webtext pipeline therefore renders its expressions as text, and every
value embedded in that text goes through ``sql_lit``.
"""

from __future__ import annotations


def sql_lit(value: str) -> str:
    """``value`` as a Spark SQL string literal: single-quoted, backslash
    and quote escaped, which is exact under Spark's default literal
    parsing (``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A column name as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
