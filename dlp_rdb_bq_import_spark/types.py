"""Source-RDBMS type system → Spark types.

Parity with the reference's 28-entry SQL Server type enum
(``common/SqlDataType.java:19-47``) and its lossy 9-type BigQuery
mapping (``common/ServerUtil.java:55-85``). Two modes:

- ``fidelity`` (default): the Spark type that best preserves the source
  semantics (DECIMAL stays DecimalType, DATETIME stays timestamp_ntz).
- ``compat``: reproduces the reference's lossy choices (NUMERIC/DECIMAL/
  MONEY → double, matching its FLOAT mapping) for behavioral-parity
  tests (SURVEY.md §1.2, §7.4.2).

Unknown type names raise (reference throws at ``ServerUtil.java:216-221``).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# The 28 enumerated source types — common/SqlDataType.java:19-47.
SQL_DATA_TYPES = frozenset(
    {
        "VARCHAR", "NVARCHAR", "CHAR", "NCHAR", "TEXT", "NTEXT",
        "BIGINT", "INT", "TINYINT", "SMALLINT",
        "NUMERIC", "DECIMAL", "MONEY", "SMALLMONEY",
        "FLOAT", "REAL",
        "BIT",
        "DATE", "TIME",
        "DATETIME", "DATETIME2", "SMALLDATETIME", "DATETIMEOFFSET",
        "TIMESTAMP",  # rowversion — an opaque binary, surfaced as string
        "BINARY", "VARBINARY", "IMAGE",
        "UNIQUEIDENTIFIER",
    }
)

# BigQuery-side names the reference maps to — ServerUtil.java:55-85.
BIGQUERY_TYPE = {
    **dict.fromkeys(["VARCHAR", "NVARCHAR", "CHAR", "NCHAR", "TEXT", "NTEXT"], "STRING"),
    **dict.fromkeys(["BIGINT", "INT", "TINYINT", "SMALLINT"], "INTEGER"),
    **dict.fromkeys(["NUMERIC", "DECIMAL", "MONEY", "SMALLMONEY", "FLOAT", "REAL"], "FLOAT"),
    "BIT": "BOOLEAN",
    "DATE": "DATE",
    "TIME": "TIME",
    **dict.fromkeys(["DATETIME", "DATETIME2", "SMALLDATETIME"], "DATETIME"),
    "DATETIMEOFFSET": "TIMESTAMP",
    "TIMESTAMP": "STRING",
    **dict.fromkeys(["BINARY", "VARBINARY", "IMAGE"], "BYTES"),
    "UNIQUEIDENTIFIER": "STRING",
}

_STRING_TYPES = {"VARCHAR", "NVARCHAR", "CHAR", "NCHAR", "TEXT", "NTEXT",
                 "TIME", "TIMESTAMP", "UNIQUEIDENTIFIER"}
_INT_TYPES = {"BIGINT", "INT", "TINYINT", "SMALLINT"}
_DECIMAL_TYPES = {"NUMERIC", "DECIMAL", "MONEY", "SMALLMONEY"}
_FLOAT_TYPES = {"FLOAT", "REAL"}
_BINARY_TYPES = {"BINARY", "VARBINARY", "IMAGE"}
_NTZ_TYPES = {"DATETIME", "DATETIME2", "SMALLDATETIME"}

_TYPE_DECL = re.compile(
    r"^\s*([A-Za-z_][A-Za-z_0-9]*(?:\s+[A-Za-z_]+)?)\s*"
    r"(?:\(\s*([0-9]+)\s*(?:,\s*([0-9]+)\s*)?\))?\s*$"
)

# ANSI/portable type names (reported by DatabaseMetaData on non-SQL-Server
# engines, e.g. Derby/H2/Postgres) normalized onto the reference's SQL
# Server enum. Names outside BOTH sets still throw — parity with the
# reference's hard failure on unknown names (ServerUtil.java:216-221).
_ANSI_ALIASES = {
    "INTEGER": "INT",
    "DOUBLE": "FLOAT",
    "DOUBLE PRECISION": "FLOAT",
    "BOOLEAN": "BIT",
    "CLOB": "TEXT",
    "BLOB": "VARBINARY",
    "CHARACTER": "CHAR",
    "CHARACTER VARYING": "VARCHAR",
    "CHAR VARYING": "VARCHAR",
}


class UnknownSourceType(ValueError):
    """Raised for type names outside the enumerated set.

    Mirrors the reference's hard failure on unknown names
    (``ServerUtil.java:216-221``).
    """


def parse_type_decl(decl: str) -> tuple[str, int | None, int | None]:
    """Parse ``"varchar(50)"`` / ``"decimal(10,2)"`` → (NAME, p, s)."""
    m = _TYPE_DECL.match(decl)
    if not m:
        raise UnknownSourceType(f"unparseable type declaration: {decl!r}")
    name = " ".join(m.group(1).upper().split())
    name = _ANSI_ALIASES.get(name, name)
    p = int(m.group(2)) if m.group(2) else None
    s = int(m.group(3)) if m.group(3) else None
    return name, p, s


def to_spark_type(decl: str, mode: str = "fidelity") -> T.DataType:
    """Map a source type declaration to a Spark type.

    ``mode='compat'`` reproduces the reference's DECIMAL→FLOAT loss
    (``ServerUtil.java:60-66``); ``mode='fidelity'`` keeps DecimalType.
    """
    name, p, s = parse_type_decl(decl)
    if name not in SQL_DATA_TYPES:
        raise UnknownSourceType(f"unknown source type: {decl!r}")
    if name in _STRING_TYPES:
        return T.StringType()
    if name in _INT_TYPES:
        return T.LongType()
    if name in _DECIMAL_TYPES:
        if mode == "compat":
            return T.DoubleType()
        return T.DecimalType(p or 38, s if s is not None else (4 if "MONEY" in name else 18))
    if name in _FLOAT_TYPES:
        return T.DoubleType()
    if name == "BIT":
        return T.BooleanType()
    if name == "DATE":
        return T.DateType()
    if name in _NTZ_TYPES:
        return T.TimestampNTZType()
    if name == "DATETIMEOFFSET":
        return T.TimestampType()
    if name in _BINARY_TYPES:
        return T.BinaryType()
    raise UnknownSourceType(f"unknown source type: {decl!r}")  # pragma: no cover


def to_bigquery_type(decl: str) -> str:
    """The reference's BQ type name for a source decl (ServerUtil.java:55-85)."""
    name, _, _ = parse_type_decl(decl)
    if name not in SQL_DATA_TYPES:
        raise UnknownSourceType(f"unknown source type: {decl!r}")
    return BIGQUERY_TYPE[name]
