"""Spark SQL text of identifiers and literals.

Plans built from parsed SQL text (``selectExpr``/``where``/``F.expr``)
cost one py4j round trip per step, where a Column tree costs one per
node. These two helpers render the pieces such text is made of, so any
column name and any literal reaches the parser unchanged.
"""

from __future__ import annotations

import datetime
import decimal
import math

__all__ = ["quote_ident", "sql_literal"]


def quote_ident(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier (a backtick inside
    is doubled), so spaces, dots and backticks in a column name reach the
    parser as a single top-level column."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v) -> "str | None":
    """SQL text of the literal ``F.lit(v)`` builds, or None for a type
    with no text form here (dates with a time, bytes, ...). A string
    holding a quote, a backslash or an unprintable character goes as
    its UTF-8 bytes in hex cast to STRING, so its value never depends
    on the parser's escape setting
    (``spark.sql.parser.escapedStringLiterals``)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        # typed by magnitude like F.lit: INT, else BIGINT
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{float(v)!r}D"
    if isinstance(v, str):
        v = str(v)
        if "'" in v or "\\" in v or not v.isprintable():
            return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
        return f"'{v}'"
    if isinstance(v, decimal.Decimal) and v.is_finite():
        return f"{v}BD"
    if type(v) is datetime.date:
        return f"DATE'{v.isoformat()}'"
    return None
