"""Quoting for names and literals spliced into ``F.expr`` SQL strings."""

from __future__ import annotations


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier (embedded
    backticks doubled), so a column name can never close the quote."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted Spark SQL string literal (embedded
    quotes doubled). A backslash is rejected: its meaning inside a
    literal depends on ``spark.sql.parser.escapedStringLiterals``."""
    if "\\" in value:
        raise ValueError(f"backslash not allowed in SQL literal: {value!r}")
    return "'" + value.replace("'", "''") + "'"
