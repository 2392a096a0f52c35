"""Row shaping: column-name sanitation, null rules, base64, JSON encode.

Parity targets:
- ``check_header_name`` — ServerUtil.java:53-54,303-313: whitespace→``_``,
  strip ``'`` and ``/``, then validate ``^[A-Za-z_]+[A-Za-z_0-9]*$`` or
  throw.
- Null/row rules — BigQueryTableRowDoFn.java:33-48: non-null values
  stringified (:40), nulls absent from the output row (:35), values whose
  lowercase is ``"null"`` dropped (:48), IMAGE bytes base64-encoded
  (:42-46).
- JSON row encode — BQReidentificationPipeline.java:242-257 (Gson of
  header→value map) → ``to_json(struct(*))`` (omits nulls natively,
  matching the reference's absent-key behavior).

All of it stays JVM-side (built-in functions, codegen'd) — no Python in
the hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VALID_HEADER = re.compile(r"^[A-Za-z_]+[A-Za-z_0-9]*$")


class InvalidHeaderName(ValueError):
    """Reference throws for unsanitizable names (ServerUtil.java:310-312)."""


def check_header_name(name: str) -> str:
    """Sanitize a column name exactly as ServerUtil.checkHeaderName does."""
    cleaned = re.sub(r"\s", "_", name).replace("'", "").replace("/", "")
    if not _VALID_HEADER.match(cleaned):
        raise InvalidHeaderName(f"column name {name!r} -> {cleaned!r} is not a valid header")
    return cleaned


def sanitize_column_names(df: DataFrame) -> DataFrame:
    """Driver-side rename pass; a metadata-only projection (no shuffle)."""
    mapping = {c: check_header_name(c) for c in df.columns}
    if all(k == v for k, v in mapping.items()):
        return df
    return df.withColumnsRenamed(mapping)


def null_string_to_null(col: Column) -> Column:
    """Values whose lowercase string is 'null' become NULL
    (BigQueryTableRowDoFn.java:48)."""
    return F.when(F.lower(col.cast("string")) == "null", F.lit(None)).otherwise(col)


def stringify_compat(df: DataFrame, image_columns: set[str] | None = None) -> DataFrame:
    """Compat-mode row shaping (SURVEY.md §1.2 quirk table):

    every value stringified (BigQueryTableRowDoFn.java:40), binary/IMAGE
    base64-encoded first (:42-46), literal 'null' strings nulled (:48).
    Nulls stay NULL here; they are *omitted* (not empty) at JSON-encode
    time, matching the reference's absent-key rows (:35).
    """
    image_columns = image_columns or set()
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.BinaryType) or f.name in image_columns:
            c = F.base64(c)
        c = null_string_to_null(c.cast("string"))
        cols.append(c.alias(f.name))
    return df.select(*cols)


def cast_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Fidelity mode: cast (possibly all-string post-tokenize) columns back
    to the target schema — the explicit inverse of the reference's lossy
    everything-is-a-string handoff to BigQuery (SURVEY.md §7.4.2)."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def conformance_split(
    df: DataFrame, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Row-level failed-insert predicate, evaluated BEFORE the write.

    The reference learns about bad rows from the sink
    (DBImportPipeline.java:134-146: BigQuery rejects an insert, the row
    comes back via ``WriteResult.getFailedInserts`` and is dead-lettered);
    Spark's columnar writers are all-or-nothing per task, so the idiomatic
    equivalent runs the rejection predicate as a JVM-side expression
    first. A row violates when a non-null value fails ``try_cast`` to the
    target type, or a required (non-nullable) column is null.

    Returns ``(conforming, violations)``: conforming rows cast to the
    target schema; violations as (payload JSON, error) rows. Both are
    filters over the same parent — persist the parent if recomputing the
    source scan twice is expensive (the import pipeline does).
    """
    checks: list[Column] = []
    for f in schema.fields:
        c = F.col(f.name)
        checks.append(
            F.when(
                c.isNotNull() & c.try_cast(f.dataType).isNull(),
                F.lit(f"{f.name}: not castable to {f.dataType.simpleString()}"),
            )
        )
        if not f.nullable:
            checks.append(
                F.when(c.isNull(), F.lit(f"{f.name}: null in required column"))
            )
    errors = F.array_compact(F.array(*checks)) if checks else F.array().cast("array<string>")
    tagged = df.withColumn("_errors", errors)
    conforming = cast_to_schema(tagged.filter(F.size("_errors") == 0), schema)
    violations = tagged.filter(F.size("_errors") > 0).select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("payload"),
        F.concat_ws("; ", "_errors").alias("error"),
    )
    return conforming, violations


def rows_as_json(df: DataFrame) -> DataFrame:
    """Encode each row as a JSON object column ``message``
    (BQReidentificationPipeline.java:242-257). ``to_json`` omits null
    fields, matching Gson's skipped absent keys."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("message"))
