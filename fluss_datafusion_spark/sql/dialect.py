"""Identifier / dialect helpers.

Reference parity: ``FlussDialect`` (src/sql/dialect.rs:25-45) accepts
backtick- and double-quote-delimited identifiers and allows ``@``/``$``
inside identifiers; qualified-name splitting respects quoting
(src/sql/rewriter.rs:211-256); single quotes in string literals are
escaped by doubling (src/sql/rewriter.rs:259-261).
"""

from __future__ import annotations

from typing import List


def strip_quotes(identifier: str, quote: str = None) -> str:
    """Remove one layer of backtick / double-quote (or the given) quoting."""
    text = identifier.strip()
    quotes = (quote,) if quote else ("`", '"', "'")
    for q in quotes:
        if len(text) >= 2 and text.startswith(q) and text.endswith(q):
            return text[1:-1]
    return text


def quote_identifier(name: str) -> str:
    """Backtick-quote an identifier (reference DDL generator always quotes)."""
    return "`" + name.replace("`", "``") + "`"


def escape_sql_string(value: str) -> str:
    """Escape a string for embedding in a SQL single-quoted literal
    (mirrors escape_sql_string, src/sql/rewriter.rs:259-261)."""
    return value.replace("'", "''")


def parse_qualified_name(name: str) -> List[str]:
    """Split ``db.table`` into parts, respecting backtick/double-quote
    quoting (mirrors parse_table_name, src/sql/rewriter.rs:211-256).

    Handles: ``mydb.mytable``, ``` `my-db`.`my-table` ``` , ``db.`my-table```,
    a bare table name, and quoted names containing dots.
    """
    parts: List[str] = []
    current: List[str] = []
    i = 0
    text = name.strip()
    while i < len(text):
        ch = text[i]
        if ch in ("`", '"'):
            quote = ch
            i += 1
            while i < len(text):
                if text[i] == quote:
                    # doubled quote = escaped quote char inside identifier
                    if i + 1 < len(text) and text[i + 1] == quote:
                        current.append(quote)
                        i += 2
                        continue
                    i += 1
                    break
                current.append(text[i])
                i += 1
            continue
        if ch == ".":
            parts.append("".join(current))
            current = []
            i += 1
            continue
        current.append(ch)
        i += 1
    parts.append("".join(current))
    return [p for p in parts]


_SPECIAL_PREFIXES = (
    "SHOW PARTITIONS",
    "SHOW BUCKETS",
    "SHOW OPTIONS",
    "SHOW TABLE OPTIONS",
    "SHOW CREATE TABLE",
    "DESCRIBE",
    "DESC ",
)


def is_fluss_special_command(sql: str) -> bool:
    """True for the SHOW/DESCRIBE forms that standard SQL engines lack and
    our rewriter must handle (mirrors is_fluss_special_command,
    src/sql/dialect.rs:47-60 — note plain SHOW TABLES is NOT special)."""
    upper = sql.strip().upper()
    return any(upper.startswith(p) for p in _SPECIAL_PREFIXES)


def extract_table_name_from_show(sql: str) -> str:
    """Extract the (still-quoted) table operand from a special SHOW /
    DESCRIBE command (mirrors extract_table_name_from_show,
    src/sql/dialect.rs:62-94).  Returns None for non-special commands."""
    text = sql.strip().rstrip(";").strip()
    upper = text.upper()
    for prefix in (
        "SHOW PARTITIONS",
        "SHOW BUCKETS",
        "SHOW TABLE OPTIONS",
        "SHOW OPTIONS",
        "SHOW CREATE TABLE",
        "DESCRIBE TABLE",
        "DESCRIBE",
        "DESC",
    ):
        if upper.startswith(prefix):
            operand = text[len(prefix):].strip()
            return operand or None
    return None
