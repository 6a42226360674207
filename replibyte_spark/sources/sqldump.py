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

Distribution model: one task per dump file.  This is exactly the unit the
reference's own datastore produces (`{dump}/{N}.dump` chunks,
tasks/full_dump.rs:72-113) — chunk boundaries are statement boundaries, so
per-file parallelism is correct by construction.  A single monolithic .sql
file parses in one task (fine for ingest; at scale dumps arrive chunked).

The typed decoder follows the reference's literal-syntax inference
(postgres.rs:375-412): quoted → string, bare number with `.`/exponent →
double, bare integer → long, TRUE/FALSE → bool, NULL → null.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
    cols = [_unquote_ident(c) for c in _split_csv(m.group("cols"), dialect)]
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


def parse_copy_rows(stmt: str):
    """(table, columns, [row, ...]) for a `COPY ... FROM stdin;` pseudo-
    statement (header + tab-separated data lines + `\\.`, as yielded by
    :func:`split_statements`), else None.

    The reference ingests this via its statement stream
    (dump-parser/src/utils.rs:33-121); data lines are split on literal tabs
    — escaped tabs appear as the 2-char sequence `\\t`, so a raw tab is
    always a field separator.
    """
    header, _, body = stmt.partition(";")
    m = _COPY_HDR_RE.match(header.strip())
    if m is None:
        return None
    table = _unquote_ident(m.group("table").split(".")[-1])
    cols = [_unquote_ident(c) for c in m.group("cols").split(",")]
    body = body.removeprefix("\n").removesuffix("\\.").removesuffix("\n")
    rows = []
    for line in (body.split("\n") if body else []):
        vals = [_decode_copy_field(f) for f in line.split("\t")]
        if len(cols) != len(vals):
            raise ValueError(
                f"column/value arity mismatch in COPY {table}: "
                f"{len(cols)} cols vs {len(vals)} values")
        rows.append(vals)
    return table, cols, rows


# ---------------------------------------------------------------------------
# typed rows → DataFrames (single-pass, explicit schema)
# ---------------------------------------------------------------------------
#
# Both readers below produce an RDD of (table, cols_tuple, values_list)
# and hand it here.  Earlier rounds serialized rows to JSON and used
# `spark.read.json`, whose schema INFERENCE is a second full pass over the
# data; instead we fold a per-column type lattice into the same job that
# materializes the persisted decode (one scan of the dump), then build each
# table's DataFrame with an explicit schema — no inference job, no
# per-table `first()`.

_T_BOOL, _T_INT, _T_FLOAT, _T_STR, _T_BIGNUM = 1, 2, 4, 8, 16
_INT64_MAX = (1 << 63) - 1


def _type_bit(v) -> int:
    if v is None:
        return 0
    if isinstance(v, bool):
        return _T_BOOL
    if isinstance(v, int):
        return _T_INT | (_T_BIGNUM if abs(v) > _INT64_MAX else 0)
    if isinstance(v, float):
        return _T_FLOAT
    return _T_STR


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


def _coerce(v, mask: int):
    """Align a decoded python value with its column's resolved type."""
    if v is None:
        return None
    if mask in (_T_FLOAT, _T_INT | _T_FLOAT):
        return float(v)
    if mask in (_T_BOOL, _T_INT):
        return v
    # string column: render non-strings the way JSON would
    if isinstance(v, bool):
        return "true" if v else "false"
    if not isinstance(v, str):
        return str(v)
    return v


def _frames_from_typed_rdd(spark: SparkSession, rdd,
                           tables: list[str] | None) -> dict[str, DataFrame]:
    """rdd of (table, cols_tuple, values_list) → {table: DataFrame}.

    One job computes per-(table, column-list) type masks AND materializes
    the persisted decode; each table's DataFrame then reads from cache with
    an explicit schema.
    """
    from pyspark.sql.types import StructField, StructType
    from pyspark import StorageLevel

    rdd = rdd.persist(StorageLevel.MEMORY_AND_DISK)

    def part_stats(it):
        acc: dict = {}
        for t, cols, vals in it:
            key = (t, cols)
            masks = acc.get(key)
            if masks is None:
                masks = acc[key] = [0] * len(cols)
            for j, v in enumerate(vals):
                masks[j] |= _type_bit(v)
        yield from acc.items()

    def merge(a, b):
        return [x | y for x, y in zip(a, b)]

    stats = rdd.mapPartitions(part_stats).reduceByKey(merge).collect()

    # group by table; a table dumped with several column lists (legal in
    # hand-written dumps) unions by name with nulls for absent columns
    per_table: dict[str, dict] = {}
    for (t, cols), masks in stats:
        info = per_table.setdefault(t, {"order": list(cols), "mask": {}})
        for c in cols:
            if c not in info["order"]:
                info["order"].append(c)
        for c, m in zip(cols, masks):
            info["mask"][c] = info["mask"].get(c, 0) | m

    out: dict[str, DataFrame] = {}
    for t in sorted(per_table):
        if tables and t not in tables:
            continue
        order = per_table[t]["order"]
        cmask = per_table[t]["mask"]
        schema = StructType([StructField(c, _mask_to_type(cmask[c]), True)
                             for c in order])
        masks_in_order = [cmask[c] for c in order]
        pos = {c: i for i, c in enumerate(order)}
        tname = t

        def build(rec, _m=masks_in_order, _pos=pos, _n=len(order), _t=tname):
            rt, cols, vals = rec
            if list(cols) == list(_pos):  # common case: exact order match
                return tuple(_coerce(v, m) for v, m in zip(vals, _m))
            row = [None] * _n
            for c, v in zip(cols, vals):
                j = _pos[c]
                row[j] = _coerce(v, _m[j])
            return tuple(row)

        data = rdd.filter(lambda r, _t=tname: r[0] == _t).map(build)
        out[t] = spark.createDataFrame(data, schema, verifySchema=False)
    return out


# ---------------------------------------------------------------------------
# distributed read
# ---------------------------------------------------------------------------

def read_sql_dump(spark: SparkSession, path: str,
                  tables: list[str] | None = None,
                  dialect: str = "postgres") -> dict[str, DataFrame]:
    """Parse .sql dump file(s) into per-table DataFrames.

    One task per file (chunked dumps parallelize naturally); rows decode to
    typed tuples in the same pass and each table gets an explicit schema —
    see :func:`_frames_from_typed_rdd`.  A single monolithic COPY-format
    file parses in parallel through :func:`read_copy_dump_parallel`.
    """
    files = spark.sparkContext.wholeTextFiles(path)

    def emit(kv):
        _fname, text = kv
        for stmt in split_statements(text, dialect):
            parsed = parse_insert_rows(stmt, dialect)
            if parsed is None:
                parsed = parse_copy_rows(stmt)
            if parsed is None:
                continue
            t, cols, rows = parsed
            cols_t = tuple(cols)
            for vals in rows:
                yield t, cols_t, vals

    return _frames_from_typed_rdd(spark, files.flatMap(emit), tables)


def read_copy_dump_parallel(spark: SparkSession, path: str,
                            tables: list[str] | None = None,
                            min_partitions: int = 32) -> dict[str, DataFrame]:
    """Parse a MONOLITHIC COPY-format dump with full parallelism.

    `read_sql_dump`'s one-task-per-file model is right for chunked dumps but
    serializes on a single multi-GB pg_dump file.  COPY data lines are
    line-structured, so this reader splits the file by lines instead:

    1. `textFile(minPartitions=N).zipWithIndex` — distributed read with a
       global line index.
    2. The (tiny) set of `COPY ... FROM stdin;` headers and `\\.`
       terminators is collected to the driver and paired into
       (start, end, table, columns) block ranges.
    3. Every data line maps to its block by index range (broadcast ranges,
       binary-search per line) and decodes in parallel.

    Block membership is decided by LINE INDEX alone: a data row whose first
    field begins with ``COPY `` is legal COPY text (only \\t \\n \\r \\\\ are
    escaped) and must survive — header-looking lines are only treated as
    headers when no block is open (a real header cannot appear before the
    previous ``\\.`` terminator), and interior lines are never re-matched
    against marker patterns.  A line of exactly ``\\.`` IS always a
    terminator: a literal backslash in data is escaped to ``\\\\``, so no
    data row can render as ``\\.``.

    Constraint: the COPY header must sit on one line (pg_dump's output
    shape).  INSERT statements in the same file are ignored here — mixed
    dumps go through `read_sql_dump`.
    """
    import bisect

    lines = spark.sparkContext.textFile(path, minPartitions=min_partitions) \
        .zipWithIndex()

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
        m = _COPY_HDR_RE.match(line.rstrip().rstrip(";"))
        if m:
            open_hdr = (idx, _unquote_ident(m.group("table").split(".")[-1]),
                        tuple(_unquote_ident(c)
                              for c in m.group("cols").split(",")))
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
        if not (start < idx < end):  # header/terminator/outside → not data
            return
        vals = [_decode_copy_field(f) for f in line.split("\t")]
        if len(cols) != len(vals):
            raise ValueError(
                f"column/value arity mismatch in COPY {table}: "
                f"{len(cols)} cols vs {len(vals)} values")
        yield table, cols, vals

    return _frames_from_typed_rdd(spark, lines.flatMap(emit), tables)
