"""SQL-text sink: re-encode DataFrames as INSERT statements.

Reference: `to_query` row re-encoder
(/root/reference/replibyte/src/source/postgres.rs:499-546 — rebuilds
`INSERT INTO db.table (cols) VALUES (vals);` escaping `'` → `''`,
`None` → NULL).  Here the encoding is one Catalyst projection
(concat/when expressions — no per-row Python), so a 100 TB table renders as
fast as it scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType


def _value_expr(field) -> F.Column:
    c = F.col(f"`{field.name}`")
    if isinstance(field.dataType, BooleanType):
        rendered = F.when(c, F.lit("TRUE")).otherwise(F.lit("FALSE"))
    elif isinstance(field.dataType, NumericType):
        rendered = c.cast("string")
    else:
        escaped = F.regexp_replace(c.cast("string"), "'", "''")
        rendered = F.concat(F.lit("'"), escaped, F.lit("'"))
    return F.coalesce(rendered, F.lit("NULL"))


def to_insert_statements(df: DataFrame, table: str) -> DataFrame:
    """DataFrame[stmt: string] — one INSERT statement per row."""
    cols = ", ".join(f.name for f in df.schema.fields)
    values = []
    for i, f in enumerate(df.schema.fields):
        if i:
            values.append(F.lit(", "))
        values.append(_value_expr(f))
    stmt = F.concat(
        F.lit(f"INSERT INTO {table} ({cols}) VALUES ("), *values, F.lit(");")
    )
    return df.select(stmt.alias("stmt"))


def write_sql_dump(df: DataFrame, table: str, path: str,
                   mode: str = "overwrite") -> None:
    """Write the INSERT stream as text chunk files (the reference's
    `{N}.dump` chunks, tasks/full_dump.rs:72-113 — here Spark part-files).
    `mode` passes through to the text writer so a pipeline with
    wipe_database=false can append instead of clobbering."""
    to_insert_statements(df, table).write.mode(mode).text(path)


def _copy_field_expr(field) -> F.Column:
    """COPY text-format cell: NULL → `\\N`, bool → t/f (pg rendering),
    numerics verbatim, text with backslash/tab/newline/CR escaped."""
    c = F.col(f"`{field.name}`")
    if isinstance(field.dataType, BooleanType):
        rendered = F.when(c, F.lit("t")).otherwise(F.lit("f"))
    elif isinstance(field.dataType, NumericType):
        rendered = c.cast("string")
    else:
        rendered = c.cast("string")
        for raw, esc in (("\\\\", "\\\\\\\\"), ("\t", "\\\\t"),
                         ("\n", "\\\\n"), ("\r", "\\\\r")):
            rendered = F.regexp_replace(rendered, raw, esc)
    return F.coalesce(rendered, F.lit("\\N"))


def to_copy_lines(df: DataFrame, table: str) -> tuple[DataFrame, str]:
    """(DataFrame[line: string], header) — the tab-separated data lines and
    the `COPY t (cols) FROM stdin;` header for pg_dump's default format.
    Every field is coalesced BEFORE concat_ws (which would silently drop
    nulls), so arity is stable."""
    cols = ", ".join(f.name for f in df.schema.fields)
    line = F.concat_ws("\t", *[_copy_field_expr(f) for f in df.schema.fields])
    header = f"COPY {table} ({cols}) FROM stdin;"
    return df.select(line.alias("line")), header


def write_copy_dump(df: DataFrame, table: str, path: str,
                    single_file: bool = False) -> None:
    """Write a COPY-format dump (pg_dump's DEFAULT output shape).

    Each partition becomes one self-contained part-file: header + data
    lines + `\\.` terminator — exactly the per-file unit
    :func:`~replibyte_spark.sources.sqldump.read_sql_dump` parses, so
    chunked dumps read back in parallel.  The row encoding itself stays a
    Catalyst projection; the per-partition wrap only prepends/appends two
    constant lines.
    """
    lines, header = to_copy_lines(df, table)
    if single_file:
        lines = lines.coalesce(1)

    def wrap(it):
        yield (header,)
        for row in it:
            yield (row[0],)
        yield ("\\.",)

    # route the wrapped RDD back through the DataFrame text writer so the
    # dump is re-runnable: rdd.saveAsTextFile cannot overwrite an existing
    # path (write_sql_dump already used mode('overwrite'); this matches it)
    wrapped = lines.rdd.mapPartitions(wrap)
    (df.sparkSession.createDataFrame(wrapped, "value string")
     .write.mode("overwrite").text(path))
