"""SQL text for fixed-shape projections.

A projection written as one ``selectExpr``/``F.expr``/``filter`` string
crosses py4j once, where the same projection as a ``functions.*`` /
``Column`` chain crosses it once per call; a plan that is rebuilt every
streaming trigger pays that per trigger. The rule for such strings:
only identifiers (through ``ident``) and numbers go into them. Text
from a DSL or a caller — topic names, JSON paths, literal labels —
stays a Column literal (``F.lit``), never SQL text.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def epoch_us(ts_sql: str) -> str:
    """Epoch microseconds of a timestamp-castable SQL expression."""
    return f"unix_micros(CAST({ts_sql} AS TIMESTAMP))"
