"""Scalar type inference — exact re-expression of the reference's
DataTypes (/root/reference/src/main/java/com/codingchili/excelastic/model/DataTypes.java:23-57).

Detection precedence integer -> float -> boolean -> string
(DataTypes.java:33-41); the numeric regexes reject signs/exponents/spaces;
values are trimmed first (DataTypes.java:24); fractionless numerics narrow
to int (DataTypes.java:51-57). Used per-cell by the row-document parser and
per-column by the Spark typed reader.
"""

from __future__ import annotations

import re

INT_RE = re.compile(r"^[0-9]+$")  # DataTypes.java:16
FLOAT_RE = re.compile(r"^[0-9]+\.[0-9]+$")  # DataTypes.java:15
BOOL_RE = re.compile(r"^(true|false)$")  # DataTypes.java:17


def parse_string_value(value: str):
    """DataTypes.parseString (DataTypes.java:31-45): returns the typed
    python value; empty string passes through as string."""
    v = value.strip()
    if INT_RE.match(v):
        return int(v)
    if FLOAT_RE.match(v):
        return float(v)
    if BOOL_RE.match(v):
        return v == "true"
    return value


def parse_numeric(value: float):
    """DataTypes.parseNumeric (DataTypes.java:51-57): fractional part > 0
    -> float, else int."""
    return value if value % 1 > 0 else int(value)


# Spark-side equivalents (column-level, for the vectorized typed reader)
SPARK_INT_RE = "^[0-9]+$"
SPARK_FLOAT_RE = "^[0-9]+\\.[0-9]+$"
SPARK_BOOL_RE = "^(true|false)$"
