"""SQL-dump parser tests mirroring the reference's golden splitter cases
(dump-parser/src/utils.rs:304-948) and to_query re-encoding
(source/postgres.rs:620-714)."""

from __future__ import annotations

import pytest

from replibyte_spark.sources.sqldump import parse_insert, split_statements
from replibyte_spark.util import released


def test_split_basic():
    text = "CREATE TABLE t (a int);\nINSERT INTO t (a) VALUES (1);\n"
    assert list(split_statements(text)) == [
        "CREATE TABLE t (a int);", "INSERT INTO t (a) VALUES (1);"]


def test_split_embedded_semicolon_in_string():
    """utils.rs golden: `;` inside a string literal must not split."""
    text = "INSERT INTO t (a) VALUES ('x; y');"
    assert list(split_statements(text)) == ["INSERT INTO t (a) VALUES ('x; y');"]


def test_split_quote_escapes():
    """'' escapes stay inside one statement (utils.rs cases); backslash
    escapes are mysql-dialect only (postgres treats \\ literally)."""
    text = "INSERT INTO t (a) VALUES ('it''s; fine');INSERT INTO t (a) VALUES ('x');"
    got = list(split_statements(text))
    assert len(got) == 2
    assert got[0] == "INSERT INTO t (a) VALUES ('it''s; fine');"
    my = "INSERT INTO t (a) VALUES ('b\\'; c');"
    assert list(split_statements(my, dialect="mysql")) == [my]


def test_split_comments_removed():
    text = "-- a comment; with semicolon\nINSERT INTO t (a) VALUES (1);"
    assert list(split_statements(text)) == ["INSERT INTO t (a) VALUES (1);"]


def test_split_multiline_statement():
    text = "INSERT INTO t (a, b)\nVALUES (1,\n2);"
    assert list(split_statements(text)) == ["INSERT INTO t (a, b)\nVALUES (1,\n2);"]


def test_split_dollar_quoted_function_body():
    """utils.rs: CREATE OR REPLACE FUNCTION bodies with embedded `;`."""
    fn = "CREATE FUNCTION f() RETURNS int AS $$ BEGIN RETURN 1; END $$ LANGUAGE plpgsql;"
    got = list(split_statements(fn + "\nINSERT INTO t (a) VALUES (1);"))
    assert len(got) == 2 and got[0].startswith("CREATE FUNCTION")


def test_parse_insert_typed_cells():
    """Typed-cell decoding (postgres.rs:375-412): int/float/string/bool/NULL."""
    t, cols, vals = parse_insert(
        "INSERT INTO public.users (id, name, score, active, note) "
        "VALUES (42, 'O''Hara', 1.5, TRUE, NULL);")
    assert t == "users"
    assert cols == ["id", "name", "score", "active", "note"]
    assert vals == [42, "O'Hara", 1.5, True, None]


def test_parse_insert_quoted_identifiers():
    """Quote-preserving column projection (postgres/mod.rs:973-995)."""
    t, cols, vals = parse_insert(
        'INSERT INTO "MyTable" ("upperCaseColumnName", x) VALUES (\'v\', -7);')
    assert t == "MyTable"
    assert cols == ["upperCaseColumnName", "x"]
    assert vals == ["v", -7]


def test_parse_insert_commas_inside_strings():
    _t, _c, vals = parse_insert(
        "INSERT INTO t (a, b) VALUES ('x, y', 'z (1,2)');")
    assert vals == ["x, y", "z (1,2)"]


def test_parse_non_insert_returns_none():
    assert parse_insert("CREATE TABLE t (a int);") is None
    assert parse_insert("ALTER TABLE t ADD CONSTRAINT c;") is None


def test_roundtrip_through_text(spark, sf_dir, tmp_path):
    """nation → INSERT text → parse back → identical rows (re-encoder
    semantics of source/postgres.rs:620-714)."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.sqldump_sink import write_sql_dump
    from replibyte_spark.sources.sqldump import read_sql_dump

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "dump")
    write_sql_dump(nation, "nation", path)
    back = read_sql_dump(spark, path)["nation"]
    assert back.columns == nation.columns
    got = sorted((int(r[0]), r[1], int(r[2])) for r in back.collect())
    want = sorted(tuple(r) for r in nation.collect())
    assert got == want


# --- COPY format (pg_dump default) -----------------------------------------

def test_split_copy_block_is_one_statement():
    from replibyte_spark.sources.sqldump import parse_copy_rows

    text = (
        "CREATE TABLE t (a int);\n"
        "COPY public.t (a, b) FROM stdin;\n"
        "1\thello; world\n"
        "2\t\\N\n"
        "\\.\n"
        "INSERT INTO t (a, b) VALUES (3, 'x');\n"
    )
    stmts = list(split_statements(text))
    assert len(stmts) == 3
    table, cols, rows = parse_copy_rows(stmts[1])
    assert table == "t" and cols == ["a", "b"]
    assert rows == [[1, "hello; world"], [2, None]]
    # the data block must not pollute the following statement
    assert parse_insert(stmts[2]) == ("t", ["a", "b"], [3, "x"])


def test_copy_unescape_round_trips_nasty_strings():
    from replibyte_spark.sources.sqldump import _unescape_copy

    assert _unescape_copy("a\\tb\\nc\\rd\\\\e") == "a\tb\nc\rd\\e"
    assert _unescape_copy("\\x41\\102") == "AB"       # hex + octal
    assert _unescape_copy("plain") == "plain"


def test_copy_reference_golden_dump_parses():
    """The reference ships its Northwind dump in COPY form
    (db/postgres/fulldump.sql) — parse it and check known table row counts
    (the counts the reference's own tests assert against that database,
    subset/src/postgres.rs:917-975)."""
    from replibyte_spark.sources.sqldump import parse_copy_rows

    text = open("/root/reference/db/postgres/fulldump.sql").read()
    tables = {}
    for stmt in split_statements(text):
        parsed = parse_copy_rows(stmt)
        if parsed:
            t, cols, rows = parsed
            tables[t] = (cols, rows)
    assert set(tables) >= {"categories", "customers", "orders",
                           "order_details", "products", "employees"}
    assert len(tables["categories"][1]) == 8
    assert len(tables["customers"][1]) == 91
    assert len(tables["orders"][1]) == 830
    assert len(tables["products"][1]) == 77
    # typed decode: first category row is (1, 'Beverages', <text>, '\x')
    first = tables["categories"][1][0]
    assert first[0] == 1 and first[1] == "Beverages"
    # NULLs decoded (employees.reports_to of the CEO row)
    assert any(v is None for row in tables["employees"][1] for v in row)


def test_copy_write_read_roundtrip_with_escapes(spark, tmp_path):
    from replibyte_spark.sinks.sqldump_sink import write_copy_dump
    from replibyte_spark.sources.sqldump import read_sql_dump

    df = spark.createDataFrame(
        [(1, "tab\there"), (2, "line\nbreak"), (3, "back\\slash"),
         (4, None), (5, "\\N lookalike"), (6, "plain")],
        "id long, s string")
    path = str(tmp_path / "copydump")
    write_copy_dump(df, "t", path)
    back = read_sql_dump(spark, path)["t"]
    got = {r.id: r.s for r in back.collect()}
    assert got == {1: "tab\there", 2: "line\nbreak", 3: "back\\slash",
                   4: None, 5: "\\N lookalike", 6: "plain"}


def test_copy_write_is_rerunnable(spark, tmp_path):
    """Writing the same COPY dump path twice must overwrite, matching
    write_sql_dump — rdd.saveAsTextFile threw FileAlreadyExists on the
    second run of a dump job."""
    from replibyte_spark.sinks.sqldump_sink import write_copy_dump
    from replibyte_spark.sources.sqldump import read_sql_dump

    path = str(tmp_path / "rerun")
    write_copy_dump(spark.createDataFrame([(1, "a")], "id long, s string"),
                    "t", path)
    write_copy_dump(spark.createDataFrame([(2, "b"), (3, "c")],
                                          "id long, s string"), "t", path)
    got = {r.id: r.s for r in read_sql_dump(spark, path)["t"].collect()}
    assert got == {2: "b", 3: "c"}


def test_copy_roundtrip_fuzz_corpus(spark, tmp_path):
    """One-job fuzz: 60 seeded-random strings over a nasty alphabet
    (tabs, newlines, CRs, backslashes, quotes, unicode, \\N lookalikes)
    must survive the COPY write→parse loop byte-for-byte."""
    import random

    from replibyte_spark.sinks.sqldump_sink import write_copy_dump
    from replibyte_spark.sources.sqldump import read_sql_dump

    rng = random.Random(99)
    alphabet = list("ab\t\n\r\\'\"xyN ") + ["\\N", "é", "中", "\\x41", "\\."]
    rows = [(i, "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(0, 30))) or None)
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, s string")
    path = str(tmp_path / "fuzzcopy")
    write_copy_dump(df, "t", path, single_file=True)
    back = read_sql_dump(spark, path)["t"]
    got = {r.id: r.s for r in back.collect()}
    want = dict(rows)
    assert got == want


def test_copy_parallel_reader_monolithic_file(spark, sf_dir, tmp_path):
    """The line-splitting reader parses ONE monolithic multi-table COPY
    file across many partitions and agrees with the per-file parser."""
    from pyspark.sql import functions as F

    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.sqldump_sink import to_copy_lines
    from replibyte_spark.sources.sqldump import read_copy_dump_parallel

    # build one file holding TWO tables' COPY blocks back to back
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    chunks = []
    for t, df in (("nation", nation), ("region", region)):
        lines, header = to_copy_lines(df, f"public.{t}")
        chunks.append("\n".join([header] +
                               [r.line for r in lines.collect()] + ["\\."]))
    mono = tmp_path / "mono"
    mono.mkdir()
    (mono / "all.sql").write_text("\n".join(chunks) + "\n")

    out = read_copy_dump_parallel(spark, str(mono / "all.sql"),
                                  min_partitions=8)
    assert set(out) == {"nation", "region"}
    got = sorted((r.n_nationkey, r.n_name, r.n_regionkey)
                 for r in out["nation"].collect())
    want = sorted((r.n_nationkey, r.n_name, r.n_regionkey)
                  for r in nation.collect())
    assert got == want
    assert out["region"].count() == region.count()


def test_copy_parallel_keeps_copy_prefixed_data_rows(spark, tmp_path):
    """COPY text format only escapes \\t \\n \\r \\\\ — a data row whose
    first field begins with 'COPY ' (even one that looks exactly like a
    header) is legal output and must survive the line-parallel reader."""
    from replibyte_spark.sources.sqldump import read_copy_dump_parallel

    text = (
        "COPY public.t (a, b) FROM stdin;\n"
        "COPY cat (x, y) FROM stdin\t1\n"       # full header lookalike
        "COPY me if you can\t2\n"
        "plain\t3\n"
        "\\.\n"
        "COPY public.u (c) FROM stdin;\n"
        "7\n"
        "\\.\n"
    )
    f = tmp_path / "nasty.sql"
    f.write_text(text)
    out = read_copy_dump_parallel(spark, str(f), min_partitions=4)
    assert set(out) == {"t", "u"}
    got = sorted((r.a, r.b) for r in out["t"].collect())
    assert got == [("COPY cat (x, y) FROM stdin", 1),
                   ("COPY me if you can", 2), ("plain", 3)]
    assert [r.c for r in out["u"].collect()] == [7]


def test_read_sql_dump_is_single_pass(spark, sf_dir, tmp_path):
    """The decode runs as ONE Spark job (no schema-inference second pass):
    the per-column type masks fold into the same job that fills the cached
    parse, and every returned frame reads only that cache."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.sqldump_sink import write_sql_dump
    from replibyte_spark.sources.sqldump import read_sql_dump

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "dump1")
    write_sql_dump(nation, "nation", path)
    with released():
        sc = spark.sparkContext
        sc.setJobGroup("sqldump-single-pass", "read_sql_dump")
        try:
            out = read_sql_dump(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("sqldump-single-pass")
        assert len(jobs) == 1, f"expected 1 job during read, got {len(jobs)}"
        assert out["nation"].count() == nation.count()

        # the job is named after the reader and its file count, and the
        # caller's own description comes back after the read
        files = [f for f in (tmp_path / "dump1").iterdir()
                 if not f.name.startswith(("_", "."))]
        job = sc._jsc.sc().statusStore().job(jobs[0])
        assert job.description().get() == f"read_sql_dump: {len(files)} files"
        assert sc.getLocalProperty("spark.job.description") == "read_sql_dump"

        # later plans read the parse from the JVM cache: every executed plan's
        # only leaf is InMemoryTableScan and no node evaluates Python
        def nodes(plan):
            yield plan
            kids = plan.children()
            for i in range(kids.size()):
                yield from nodes(kids.apply(i))

        for t, df in out.items():
            plan = list(nodes(df._jdf.queryExecution().executedPlan()))
            assert {p.nodeName() for p in plan if p.children().isEmpty()} \
                == {"InMemoryTableScan"}, t
            assert not [p for p in plan if p.getClass().getName().startswith(
                "org.apache.spark.sql.execution.python.")], t


def test_duplicate_column_names_raise(spark, tmp_path):
    """A column listed twice fails loudly, naming the table and the column,
    in INSERT, COPY and the line-parallel COPY reader's header parse."""
    from replibyte_spark.sources.sqldump import (parse_copy_rows,
                                                 parse_insert_rows,
                                                 read_copy_dump_parallel)

    msg = "duplicate column 'a' in the column list of t"
    with pytest.raises(ValueError, match=msg):
        parse_insert_rows("INSERT INTO t (a, b, a) VALUES (1, 2, 3);")
    with pytest.raises(ValueError, match=msg):
        parse_copy_rows('COPY public.t (a, "a") FROM stdin;\n1\t2\n\\.')
    f = tmp_path / "dup.sql"
    f.write_text("COPY t (a, a) FROM stdin;\n1\t2\n\\.\n")
    with pytest.raises(ValueError, match=msg):
        read_copy_dump_parallel(spark, str(f), min_partitions=2)


def test_read_sql_dump_matches_row_model(spark, tmp_path):
    """Differential check of the reader's JVM typing against a row-at-a-time
    model: each cell decoded by `_decode_value` / `_decode_copy_field`, each
    column typed by the OR of its cells' type bits, each value coerced to
    that type.  One seeded dump mixes int, float, int+float, bool, NULL and
    >int64 cells, quoted numerals, an all-NULL column, a COPY block, and
    one table written with two column lists."""
    import random

    from replibyte_spark.sources.sqldump import (_decode_copy_field,
                                                 _decode_value, read_sql_dump)

    # the model's typing rules
    T_BOOL, T_INT, T_FLOAT, T_STR, T_BIGNUM = 1, 2, 4, 8, 16

    def type_bit(v):
        if v is None:
            return 0
        if isinstance(v, bool):
            return T_BOOL
        if isinstance(v, int):
            return T_INT | (T_BIGNUM if abs(v) > (1 << 63) - 1 else 0)
        return T_FLOAT if isinstance(v, float) else T_STR

    def mask_to_type(mask):
        return {T_BOOL: "boolean", T_INT: "bigint", T_FLOAT: "double",
                T_INT | T_FLOAT: "double"}.get(mask, "string")

    def coerce(v, mask):
        if v is None:
            return None
        if mask in (T_FLOAT, T_INT | T_FLOAT):
            return float(v)
        if mask in (T_BOOL, T_INT):
            return v
        if isinstance(v, bool):
            return "true" if v else "false"
        return v if isinstance(v, str) else str(v)

    rng = random.Random(21)
    big = str(1 << 63)
    cells = {
        "i": lambda: str(rng.randint(-10**6, 10**6)),
        "f": lambda: rng.choice([repr(rng.uniform(-1e3, 1e3)), "1e300",
                                 "2.5e-8", ".5"]),
        "n": lambda: rng.choice([str(rng.randint(-99, 99)), "1E5", "-0.0",
                                 f"{rng.uniform(0, 9):.3f}"]),
        "b": lambda: rng.choice(["TRUE", "FALSE", "true"]),
        "edge": lambda: rng.choice([str((1 << 63) - 1), str(1 - (1 << 63))]),
        "big": lambda: rng.choice([big, f"-{big}1", "12"]),
        "q": lambda: rng.choice(["'42'", "'1.5'", "'true'", "'it''s'"]),
        "mixed": lambda: rng.choice(["1", "TRUE", "2.5", "'x'"]),
        "z": lambda: "NULL",
    }
    sql, records = [], []        # records: (table, cols, decoded values)

    def insert(table, cols, gens, n):
        rows = [[g() if rng.random() > 0.15 else "NULL" for g in gens]
                for _ in range(n)]
        sql.append(f"INSERT INTO {table} ({', '.join(cols)}) VALUES "
                   + ", ".join(f"({', '.join(r)})" for r in rows) + ";")
        records.extend((table, cols, [_decode_value(c) for c in r])
                       for r in rows)

    for _ in range(6):
        insert("mix", list(cells), list(cells.values()), 5)
    insert("two", ["a", "b"], [cells["i"], cells["q"]], 6)
    insert("two", ["c", "a"], [cells["b"], cells["f"]], 6)
    copy = [[str(rng.randint(0, 9)), rng.choice(["\\N", "3.25", "7"]),
             rng.choice(["a\\tb", "\\N", "12", "x y"])] for _ in range(8)]
    sql.append("COPY public.cp (x, y, s) FROM stdin;\n"
               + "".join("\t".join(r) + "\n" for r in copy) + "\\.")
    records.extend(("cp", ["x", "y", "s"], [_decode_copy_field(f) for f in r])
                   for r in copy)
    d = tmp_path / "typed"
    d.mkdir()
    (d / "dump.sql").write_text("\n".join(sql) + "\n")

    with released():
        out = read_sql_dump(spark, str(d))
        assert sorted(out) == ["cp", "mix", "two"]
        for t, df in out.items():
            order, masks = [], {}
            for rt, cols, vals in records:
                if rt == t:
                    for c, v in zip(cols, vals):
                        if c not in masks:
                            order.append(c)
                        masks[c] = masks.get(c, 0) | type_bit(v)
            assert df.dtypes == [(c, mask_to_type(masks[c])) for c in order], t
            want = [tuple(coerce(dict(zip(cols, vals)).get(c), masks[c])
                          for c in order)
                    for rt, cols, vals in records if rt == t]
            got = [tuple(r) for r in df.collect()]
            assert sorted(got, key=repr) == sorted(want, key=repr), t
