"""SQL-dump text ingestion: statement splitter + INSERT parser.

Reference analogues:
- P1 statement splitter `list_sql_queries_from_dump_reader`
  (/root/reference/dump-parser/src/utils.rs:33-121, 161-302): incremental
  scanner tracking quotes, `--` comments and `;` terminators.
- P2/P3 tokenizers (dump-parser/src/postgres/mod.rs:224-620, mysql:214-593):
  here collapsed into a single lexer pass — we do not need a full token
  vector, only statement classification + the column/value projections.
- P4-P7 row classifier / projections / typed-cell decoder
  (replibyte/src/source/postgres.rs:245-431).

Distribution model: whole files per task — the unit the reference's own
datastore produces (`{dump}/{N}.dump` chunks, tasks/full_dump.rs:72-113),
whose boundaries are statement boundaries.  `wholeTextFiles`' default
`minPartitions` is 2, so a 12-file dump parses in 2 tasks; a monolithic
COPY file has the line-parallel reader.  Python splits, tokenizes and
decodes each file once; typing and the per-table split run in the JVM.

The typed decoder follows the reference's literal-syntax inference
(postgres.rs:375-412): quoted → string, bare number with `.`/exponent →
double, bare integer → long, TRUE/FALSE → bool, NULL → null.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import CACHED, materialize, release


# ---------------------------------------------------------------------------
# statement splitter (P1)
# ---------------------------------------------------------------------------

def split_statements(text: str, dialect: str = "postgres") -> Iterator[str]:
    """Yield complete SQL statements from dump text.

    Handles: single-quoted strings with `''` escapes (plus `\\'` in the
    mysql dialect — PostgreSQL standard_conforming_strings treats backslash
    literally, so the dialects genuinely differ, mirroring the reference's
    two tokenizers dump-parser/src/postgres vs mysql), double-quoted
    identifiers, backtick identifiers, `--` line comments, `/* */` blocks,
    dollar quoting (`$$...$$` / `$tag$...$tag$`), semicolon terminators.
    Reference scanner: dump-parser/src/utils.rs:161-302.

    `COPY t (cols) FROM stdin;` (pg_dump's DEFAULT data format) is yielded
    as ONE pseudo-statement including its tab-separated data block and the
    `\\.` terminator line — the data lines are raw text, not SQL, so they
    must not flow through the quote/semicolon scanner.
    """
    backslash_escapes = dialect == "mysql"
    buf: list[str] = []
    i, n = 0, len(text)
    in_sq = in_dq = in_bt = False       # ', ", `
    dollar_tag: str | None = None
    while i < n:
        c = text[i]
        if dollar_tag is not None:
            buf.append(c)
            if c == "$" and text.startswith(dollar_tag, i):
                buf.append(dollar_tag[1:])
                i += len(dollar_tag)
                dollar_tag = None
                continue
            i += 1
            continue
        if in_sq:
            buf.append(c)
            if backslash_escapes and c == "\\" and i + 1 < n:
                buf.append(text[i + 1])
                i += 2
                continue
            if c == "'":
                if i + 1 < n and text[i + 1] == "'":  # '' escape
                    buf.append("'")
                    i += 2
                    continue
                in_sq = False
            i += 1
            continue
        if in_dq:
            buf.append(c)
            if c == '"':
                in_dq = False
            i += 1
            continue
        if in_bt:
            buf.append(c)
            if c == "`":
                in_bt = False
            i += 1
            continue
        # not inside any quote
        if c == "-" and text.startswith("--", i):
            nl = text.find("\n", i)
            i = n if nl == -1 else nl + 1
            continue
        if c == "/" and text.startswith("/*", i):
            end = text.find("*/", i + 2)
            i = n if end == -1 else end + 2
            continue
        if c == "$":
            m = re.match(r"\$[A-Za-z0-9_]*\$", text[i:])
            if m:
                dollar_tag = m.group(0)
                buf.append(dollar_tag)
                i += len(dollar_tag)
                continue
        if c == "'":
            in_sq = True
        elif c == '"':
            in_dq = True
        elif c == "`":
            in_bt = True
        elif c == ";":
            stmt = "".join(buf).strip()
            buf = []
            i += 1
            if stmt and _COPY_HDR_RE.match(stmt):
                # raw-data mode: consume verbatim lines until the `\.` line
                nl = text.find("\n", i)
                if nl == -1:
                    yield stmt + ";"
                    continue
                m = _COPY_END_RE.search(text, nl + 1)
                if m:
                    data, i = text[nl + 1:m.start()], m.end()
                else:                       # unterminated: data to EOF
                    data, i = text[nl + 1:], n
                yield stmt + ";\n" + data.rstrip("\n") + "\n\\."
                continue
            if stmt:
                yield stmt + ";"
            continue
        buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        yield tail + ";"


_COPY_HDR_RE = re.compile(
    r"^\s*COPY\s+(?P<table>[^\s(]+)\s*\((?P<cols>[^)]*)\)\s+FROM\s+stdin\s*$",
    re.IGNORECASE,
)
_COPY_END_RE = re.compile(r"^\\\.[ \t]*$", re.MULTILINE)


# ---------------------------------------------------------------------------
# INSERT parser (P4-P7)
# ---------------------------------------------------------------------------

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>[^\s(]+)\s*\((?P<cols>.*?)\)\s*"
    r"VALUES\s*(?P<vals>\(.*\))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _unquote_ident(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "\"`":
        return s[1:-1]
    return s


def _column_list(table: str, names: list[str]) -> list[str]:
    """Unquoted column names; a name listed twice raises."""
    cols = [_unquote_ident(c) for c in names]
    dup = [c for i, c in enumerate(cols) if c in cols[:i]]
    if dup:
        raise ValueError(
            f"duplicate column {dup[0]!r} in the column list of {table}")
    return cols


def _split_csv(s: str, dialect: str = "postgres") -> list[str]:
    """Split on top-level commas, respecting quotes and parens."""
    backslash_escapes = dialect == "mysql"
    out, buf, depth = [], [], 0
    in_sq = False
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if in_sq:
            buf.append(c)
            if backslash_escapes and c == "\\" and i + 1 < n:
                buf.append(s[i + 1])
                i += 2
                continue
            if c == "'":
                if i + 1 < n and s[i + 1] == "'":
                    buf.append("'")
                    i += 2
                    continue
                in_sq = False
            i += 1
            continue
        if c == "'":
            in_sq = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    if buf:
        out.append("".join(buf).strip())
    return out


_NUM_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")

# MySQL string-literal escapes (mysqldump output set); \% and \_ keep their
# backslash outside LIKE context, any other unknown \x drops the backslash.
_MYSQL_ESCAPES = {"0": "\0", "'": "'", '"': '"', "b": "\b", "n": "\n",
                  "r": "\r", "t": "\t", "Z": "\x1a", "\\": "\\",
                  "%": "\\%", "_": "\\_"}


def _unescape_mysql(s: str) -> str:
    """Decode a mysql-dialect string-literal body: backslash escapes AND
    the standard `''` escape, in one left-to-right scan (the two can
    interleave in mysqldump output)."""
    if "\\" not in s and "''" not in s:
        return s
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nx = s[i + 1]
            out.append(_MYSQL_ESCAPES.get(nx, nx))
            i += 2
            continue
        if c == "'" and i + 1 < n and s[i + 1] == "'":
            out.append("'")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _decode_value(tok: str, dialect: str = "postgres"):
    """Typed-cell decoder (reference postgres.rs:375-412 semantics)."""
    t = tok.strip()
    if t.upper() == "NULL":
        return None
    if t.upper() == "TRUE":
        return True
    if t.upper() == "FALSE":
        return False
    if t.startswith("'") and t.endswith("'"):
        body = t[1:-1]
        if dialect == "mysql":
            return _unescape_mysql(body)
        return body.replace("''", "'")
    if _NUM_RE.match(t):
        return int(t)
    if _FLOAT_RE.match(t):
        return float(t)
    return t  # casts, hex literals, function calls pass through as text


def parse_insert_rows(stmt: str, dialect: str = "postgres"):
    """(table, columns, [row, ...]) for an INSERT statement, else None.

    Supports extended inserts — `VALUES (...), (...), ...` — the mysqldump
    DEFAULT format (the reference forces `--skip-extended-insert`,
    source/mysql.rs:107; we accept both).
    """
    m = _INSERT_RE.match(stmt)
    if not m:
        return None
    table = _unquote_ident(m.group("table").split(".")[-1])
    cols = _column_list(table, _split_csv(m.group("cols"), dialect))
    rows = []
    for tup in _split_csv(m.group("vals"), dialect):
        tup = tup.strip()
        if not (tup.startswith("(") and tup.endswith(")")):
            raise ValueError(f"malformed VALUES tuple in INSERT INTO {table}: {tup[:60]!r}")
        vals = [_decode_value(v, dialect) for v in _split_csv(tup[1:-1], dialect)]
        if len(cols) != len(vals):
            raise ValueError(
                f"column/value arity mismatch in INSERT INTO {table}: "
                f"{len(cols)} cols vs {len(vals)} values")
        rows.append(vals)
    return table, cols, rows


def parse_insert(stmt: str, dialect: str = "postgres"):
    """(table, columns, typed values) for a single-row INSERT, else None.
    Multi-row statements return the FIRST row (use parse_insert_rows)."""
    parsed = parse_insert_rows(stmt, dialect)
    if parsed is None:
        return None
    table, cols, rows = parsed
    return table, cols, rows[0]


# ---------------------------------------------------------------------------
# COPY-format parser (pg_dump default data format)
# ---------------------------------------------------------------------------

_COPY_ESCAPES = {"b": "\b", "f": "\f", "n": "\n", "r": "\r",
                 "t": "\t", "v": "\v", "\\": "\\"}
_HEX_RE = re.compile(r"[0-9a-fA-F]{1,2}")
_OCT_RE = re.compile(r"[0-7]{1,3}")


def _unescape_copy(s: str) -> str:
    """Decode COPY text-format backslash escapes (\\t \\n \\r \\b \\f \\v
    \\\\, octal \\ooo, hex \\xhh — PostgreSQL COPY TO's output set)."""
    if "\\" not in s:
        return s
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nx = s[i + 1]
            if nx in _COPY_ESCAPES:
                out.append(_COPY_ESCAPES[nx])
                i += 2
                continue
            if nx == "x":
                m = _HEX_RE.match(s, i + 2)
                if m:
                    out.append(chr(int(m.group(0), 16)))
                    i = m.end()
                    continue
            m = _OCT_RE.match(s, i + 1)
            if m:
                out.append(chr(int(m.group(0), 8)))
                i = m.end()
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _decode_copy_field(tok: str):
    """COPY cells are unquoted text: `\\N` → NULL, numeric literal syntax →
    int/double, everything else string (pg renders bools as bare `t`/`f`,
    indistinguishable from text — they stay strings)."""
    if tok == "\\N":
        return None
    if _NUM_RE.match(tok):
        return int(tok)
    if _FLOAT_RE.match(tok):
        return float(tok)
    return _unescape_copy(tok)


def _copy_header(line: str):
    """(table, columns) of a `COPY t (cols) FROM stdin` header, else None."""
    m = _COPY_HDR_RE.match(line)
    if m is None:
        return None
    table = _unquote_ident(m.group("table").split(".")[-1])
    return table, _column_list(table, m.group("cols").split(","))


def parse_copy_rows(stmt: str):
    """(table, columns, [row, ...]) for a `COPY ... FROM stdin;` pseudo-
    statement (header + tab-separated data lines + `\\.`, as yielded by
    :func:`split_statements`), else None.

    Data lines split on literal tabs: an escaped tab is the 2-char
    sequence `\\t`, so a raw tab is always a field separator.
    """
    header, _, body = stmt.partition(";")
    hdr = _copy_header(header.strip())
    if hdr is None:
        return None
    table, cols = hdr
    body = body.removeprefix("\n").removesuffix("\\.").removesuffix("\n")
    rows = [_copy_row(table, cols, line)
            for line in (body.split("\n") if body else [])]
    return table, cols, rows


def _copy_row(table: str, cols, line: str) -> list:
    """Decoded values of one COPY data line."""
    vals = [_decode_copy_field(f) for f in line.split("\t")]
    if len(cols) != len(vals):
        raise ValueError(
            f"column/value arity mismatch in COPY {table}: "
            f"{len(cols)} cols vs {len(vals)} values")
    return vals


# ---------------------------------------------------------------------------
# decoded rows → DataFrames (typed and split per table in the JVM)
# ---------------------------------------------------------------------------
# The last Python step: each decoded value becomes text, and the rows
# become ONE cached relation `(t, cols, vals)` that the read's single job
# fills while folding per-column type masks into an accumulator.  Each
# table is a JVM filter + select of casts over that cache, so no plan built
# on the returned frames runs a Python worker again.

_T_BOOL, _T_INT, _T_FLOAT, _T_STR, _T_BIGNUM = 1, 2, 4, 8, 16
_INT64_MAX = (1 << 63) - 1


def _typed_text(v) -> tuple[int, str | None]:
    """(type bit, text) of a decoded value.  The text is ``str(v)``, with
    bools as ``true``/``false``: what a string column keeps, and what a
    long, double or bool column casts back to ``v``."""
    if v is None:
        return 0, None
    if isinstance(v, bool):
        return _T_BOOL, "true" if v else "false"
    if isinstance(v, int):
        return _T_INT | (_T_BIGNUM if abs(v) > _INT64_MAX else 0), str(v)
    if isinstance(v, float):
        return _T_FLOAT, str(v)
    return _T_STR, v


def _mask_to_type(mask: int):
    from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                   StringType)
    if mask == _T_BOOL:
        return BooleanType()
    if mask == _T_INT:
        return LongType()
    if mask in (_T_FLOAT, _T_INT | _T_FLOAT):
        return DoubleType()
    return StringType()  # all-null, strings, or mixed/oversized → string


class _LayoutMasks(AccumulatorParam):
    """``{(table, cols): (first seen, column type masks)}``; min and OR
    merge, so a retried task's second update changes nothing."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, more):
        for key, (first, masks) in more.items():
            first0, masks0 = acc.get(key, (first, masks))
            acc[key] = (min(first, first0),
                        [a | b for a, b in zip(masks, masks0)])
        return acc


def _frames_from_rows(spark: SparkSession, rows, tables: list[str] | None,
                      description: str) -> dict[str, DataFrame]:
    """RDD of (table, cols_tuple, values_list) → {table: DataFrame}, from one
    job named ``description``.  A table dumped with several column lists
    selects by name, columns in first-seen order, nulls where absent."""
    sc = spark.sparkContext
    layouts = sc.accumulator({}, _LayoutMasks())

    def encode(part, it):
        seen: dict = {}
        for n, (t, cols, vals) in enumerate(it):
            if tables and t not in tables:
                continue
            masks = seen.setdefault((t, cols), ((part, n), [0] * len(cols)))[1]
            texts = []
            for j, v in enumerate(vals):
                bit, text = _typed_text(v)
                masks[j] |= bit
                texts.append(text)
            yield t, cols, texts
        layouts.add(seen)

    cached = materialize(spark.createDataFrame(
        rows.mapPartitionsWithIndex(encode),
        "t string, cols array<string>, vals array<string>",
        verifySchema=False), CACHED)
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        cached.write.format("noop").mode("overwrite").save()
    except BaseException:
        release(cached)
        raise
    finally:
        sc.setLocalProperty("spark.job.description", prev)

    types: dict[str, dict] = {}
    for (t, cols), (_, masks) in sorted(layouts.value.items(),
                                        key=lambda kv: kv[1][0]):
        ty = types.setdefault(t, {})
        for c, m in zip(cols, masks):
            ty[c] = ty.get(c, 0) | m
    by_name = F.map_from_arrays("cols", "vals")
    return {t: cached.where(F.col("t") == t).select(*[
        by_name[c].cast(_mask_to_type(m)).alias(c) for c, m in ty.items()])
        for t, ty in sorted(types.items())}


# ---------------------------------------------------------------------------
# distributed read
# ---------------------------------------------------------------------------

def read_sql_dump(spark: SparkSession, path: str,
                  tables: list[str] | None = None,
                  dialect: str = "postgres") -> dict[str, DataFrame]:
    """Parse .sql dump file(s) into per-table DataFrames.

    Tasks get whole files: ``wholeTextFiles``' default ``minPartitions`` is
    2, so a 12-file dump parses in 2 tasks.  The read's one job parses each
    file once into a cache that every returned frame projects; the
    enclosing :func:`~replibyte_spark.util.released` scope frees it
    (``DumpPipeline.run`` opens one around its read and write).
    """
    files = spark.sparkContext.wholeTextFiles(path)
    n_files = sum(p.serializableHadoopSplit().value().getNumPaths()
                  for p in files._jrdd.rdd().partitions())

    def emit(kv):
        for stmt in split_statements(kv[1], dialect):
            parsed = parse_insert_rows(stmt, dialect) or parse_copy_rows(stmt)
            if parsed:
                t, cols, rows = parsed
                cols_t = tuple(cols)
                for vals in rows:
                    yield t, cols_t, vals

    return _frames_from_rows(spark, files.flatMap(emit), tables,
                             f"read_sql_dump: {n_files} files")


def read_copy_dump_parallel(spark: SparkSession, path: str,
                            tables: list[str] | None = None,
                            min_partitions: int = 32) -> dict[str, DataFrame]:
    """Parse a MONOLITHIC COPY-format dump with full parallelism.

    `read_sql_dump` gives each task whole files, which serializes on one
    multi-GB pg_dump file, so this reader splits by lines instead:
    `textFile(minPartitions=N).zipWithIndex` indexes every line; the few
    `COPY ... FROM stdin;` headers and `\\.` terminators are collected and
    paired into (start, end, table, columns) block ranges; every data line
    finds its block by binary search over the broadcast ranges.

    Block membership is decided by LINE INDEX alone: a data row whose first
    field begins with ``COPY `` is legal COPY text and must survive, so a
    header-looking line is a header only when no block is open.  A line of
    exactly ``\\.`` is always a terminator: data escapes a backslash to
    ``\\\\``.  The header must sit on one line (pg_dump's output shape);
    INSERT statements are ignored here.  The frames share one cache,
    released as in :func:`read_sql_dump`.
    """
    import bisect

    lines = spark.sparkContext.textFile(path, minPartitions=min_partitions)
    n_files = len({p.inputSplit().value().getPath().toString()
                   for p in lines._jrdd.rdd().partitions()})
    lines = lines.zipWithIndex()

    def is_marker(t):
        line, _idx = t
        return line.startswith("COPY ") or line.rstrip() == "\\."

    markers = sorted(lines.filter(is_marker).collect(), key=lambda t: t[1])
    blocks = []  # (header_idx, terminator_idx, table, cols) — both exclusive
    open_hdr = None
    for line, idx in markers:
        if line.rstrip() == "\\.":
            if open_hdr is not None:
                blocks.append((open_hdr[0], idx, open_hdr[1], open_hdr[2]))
                open_hdr = None
            continue
        if open_hdr is not None:
            continue  # 'COPY '-prefixed DATA line inside an open block
        hdr = _copy_header(line.rstrip().rstrip(";"))
        if hdr:
            open_hdr = (idx, hdr[0], tuple(hdr[1]))
    if open_hdr is not None:  # unterminated final block: data to EOF
        blocks.append((open_hdr[0], float("inf"), open_hdr[1], open_hdr[2]))

    starts = [b[0] for b in blocks]
    bc = spark.sparkContext.broadcast((starts, blocks))

    def emit(t):
        line, idx = t
        starts_, blocks_ = bc.value
        i = bisect.bisect_right(starts_, idx) - 1
        if i < 0:
            return
        start, end, table, cols = blocks_[i]
        if start < idx < end:  # strictly inside a block: a data line
            yield table, cols, _copy_row(table, cols, line)

    return _frames_from_rows(spark, lines.flatMap(emit), tables,
                             f"read_copy_dump_parallel: {n_files} files")
