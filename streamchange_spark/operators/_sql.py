"""SQL text for the operators that build plans from expression strings.

Every ``F.*`` call and every Column operator is a Py4J round trip from the
Spark driver (plus a class lookup and a later delete of the JVM object), so
a Column tree of a few dozen nodes costs more driver time than planning the
query. The read-path tier operators therefore write each projection as one
SQL string per output column (``selectExpr``), each filter as one string
(``where``), and each aggregate as one ``F.expr``; these helpers quote the
names that go into that text.
"""

from __future__ import annotations

from typing import Sequence


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def idents(names: Sequence[str]) -> list[str]:
    return [ident(n) for n in names]


def string(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def over(partition: Sequence[str], order: str, frame: str = "") -> str:
    """``OVER (PARTITION BY ... ORDER BY ...)`` for the given key columns
    (none: one window over all rows) and ORDER BY text."""
    part = f"PARTITION BY {', '.join(idents(partition))} " if partition else ""
    return f"OVER ({part}ORDER BY {order}{' ' + frame if frame else ''})"
