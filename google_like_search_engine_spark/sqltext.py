"""Literal-substituted SQL text for the request path.

A serving query built as a DataFrame/Column chain pays one py4j round
trip per Column, literal and method call; the same plan written as one
SQL text with its constants inlined is a single ``spark.sql`` call.
These helpers render Python values as exact SQL literals and bind a
DataFrame to a name for the text's analysis.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import DataFrame


def dbl(x) -> str:
    """``x`` as a DOUBLE literal that parses back to the same float
    (Python's shortest round-trip repr plus the ``D`` suffix; a bare
    decimal literal would be typed DECIMAL)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def quote(value: str) -> str:
    """A string literal (backslash-escaped, as Spark renders its own).
    ``$`` is written as the escape ``\\u0024``: Spark substitutes
    ``${var}`` in the raw text before parsing, string literals included
    (spark.sql.variable.substitute), so no ``${`` may reach it."""
    return "'" + (
        value.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    ) + "'"


def quotes(values) -> str:
    """Comma-separated string literals, for ``IN (...)`` lists."""
    return ", ".join(quote(v) for v in values)


def over(df: DataFrame, text) -> DataFrame:
    """``text(name)`` run by ``df``'s session with ``df`` bound to
    ``name`` — a temp view that lives only while the text is analyzed
    (the returned DataFrame holds the resolved plan). The view is
    dropped through the session catalog: ``Catalog.dropTempView`` would
    also uncache a persisted ``df``, such as the serving relation."""
    session = df.sparkSession
    name = f"_sg_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    try:
        return session.sql(text(name))
    finally:
        session._jsparkSession.sessionState().catalog().dropTempView(name)
