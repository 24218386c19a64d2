"""Quoting for SQL strings the engine assembles.

Operators that build their expression webs as SQL text (one
``selectExpr``/``F.expr`` parse instead of per-node Column calls)
interpolate caller-supplied column names. Quoting such a name with
:func:`sql_ident` means a name with spaces, dots, reserved words or an
embedded backtick is read as exactly one identifier and can never break
out of its quoting.
"""

from __future__ import annotations


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier; an embedded
    backtick is escaped by doubling it."""
    return "`" + name.replace("`", "``") + "`"
