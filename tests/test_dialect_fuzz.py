"""Batch fuzz of THE core invariant: for arbitrary strings, every
transformer's Spark rendering and DuckDB rendering produce identical values.
One DataFrame round-trip for all cases (per-example Spark jobs would be
minutes); the corpus mixes quotes, unicode, controls, long strings."""

from __future__ import annotations

import random
import string

import duckdb
import pytest

from replibyte_spark import dialect as D
from replibyte_spark.functions import transformers as T

rng = random.Random(20260813)
ALPHABET = (string.ascii_letters + string.digits + " '\"\\;,.()%$_-\n\t"
            + "żółćüéñ中文🙂")
CORPUS = [""] + ["'"] + ["\\"] + ["a"] + [
    "".join(rng.choice(ALPHABET) for _ in range(rng.randint(1, 60)))
    for _ in range(300)
]

STRING_TRANSFORMERS = ["email", "first-name", "phone-number", "credit-card",
                       "random", "keep-first-char", "redacted", "transient",
                       "random-date"]


@pytest.mark.parametrize("name", STRING_TRANSFORMERS)
def test_fuzz_cross_dialect(spark, name):
    fn = T.TRANSFORMERS[name]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(CORPUS)],
                               "i long, v string")
    got = {r.i: r.out for r in
           df.selectExpr("i", f"{fn(D.SPARK, 'v')} AS out").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, v) for i, v in enumerate(CORPUS)])
    want = dict(con.execute(f"SELECT i, {fn(D.DUCK, 'v')} FROM t").fetchall())
    bad = {i: (got[i], want[i], CORPUS[i]) for i in got if got[i] != want[i]}
    assert not bad, f"{name}: {len(bad)} divergent values, first: {next(iter(bad.items()))}"


def test_split_ws_strips_all_whitespace_classes(spark, duck):
    """Leading/trailing newlines/tabs must not produce empty edge tokens:
    trim() strips only 0x20 in BOTH engines, so split_ws regex-trims —
    token counts and chunk offsets on newline-wrapped corpora depend on
    it, and the two engines must keep agreeing."""
    from replibyte_spark import dialect as D
    from replibyte_spark.functions.text import token_count_sql

    cases = ["\nhello world\t", "\t\n  a \n", "x", "", " ", "\n\t",
             "a\nb\tc", "  spaced  out  ",
             # U+000B: Java regex \s includes it, RE2's does not — the
             # explicit class in split_ws must keep the engines agreeing
             "a\x0bb", "\x0b", "a \x0b b", "\x0bxy\x0b"]
    df = spark.createDataFrame(list(enumerate(cases)), "i int, t string")
    se = D.split_ws(D.SPARK, "t")
    got = {r.i: (r.a, r.c) for r in df.selectExpr(
        "i", f"{se} AS a",
        f"CAST({token_count_sql(D.SPARK, 't')} AS BIGINT) AS c").collect()}
    de = D.split_ws(D.DUCK, "t")
    for i, s in enumerate(cases):
        want = duck.execute(
            f"SELECT {de}, CAST({token_count_sql(D.DUCK, 't')} AS BIGINT) "
            f"FROM (SELECT ?::VARCHAR AS t)", [s]).fetchone()
        assert got[i] == tuple(want), (i, s, got[i], want)
    assert got[0] == (["hello", "world"], 2)      # no empty edge tokens
    assert got[6] == (["a", "b", "c"], 3)
    assert got[8] == (["a", "b"], 2)              # vertical tab splits
    assert got[11] == (["xy"], 1)                 # ...and trims


def test_fuzz_lid_cross_dialect(spark):
    """Round-8 builder under the same batch fuzz: language-ID
    predictions/scores must agree between engines over the mixed
    quotes/unicode/controls corpus (\\p{L} category semantics are the
    divergence surface — Java regex vs RE2)."""
    from replibyte_spark.functions.lid import language_id_sql

    sp_p, sp_s = language_id_sql(D.SPARK, "v")
    df = spark.createDataFrame([(i, v) for i, v in enumerate(CORPUS)],
                               "i long, v string")
    got = {r.i: (r.p, r.s) for r in df.selectExpr(
        "i", f"{sp_p} AS p", f"{sp_s} AS s").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, v) for i, v in enumerate(CORPUS)])
    du_p, du_s = language_id_sql(D.DUCK, "v")
    want = {i: (p, s) for i, p, s in con.execute(
        f"SELECT i, {du_p}, {du_s} FROM t").fetchall()}
    bad = {i: (got[i], want[i], CORPUS[i]) for i in got if got[i] != want[i]}
    assert not bad, (f"{len(bad)} divergent values, "
                     f"first: {next(iter(bad.items()))}")


def test_fuzz_quantize_builders_cross_dialect(spark):
    """The SQ8 builders over adversarial vectors: denormals, huge/tiny
    magnitudes, negatives, exact half-step boundaries, zero vectors —
    codes, scales and integer dots must agree bit-for-bit across engines
    (the explicit floor(+0.5) policy is exactly for the half-step rows)."""
    import duckdb as _duck

    from replibyte_spark.operators.quantize import (int_dot_sql, qscale_sql,
                                                    quantize_sql)

    vrng = random.Random(20260815)
    vecs = [
        [0.0, 0.0, 0.0, 0.0],
        [127.0, -127.0, 63.5, -63.5],      # exact half-steps at scale 1
        [1e-300, -1e-300, 0.0, 1e-300],    # denormal-adjacent
        [1e12, -5e11, 2.5e11, -1e12],
        [0.1, 0.2, 0.3, -0.4],
    ] + [[vrng.uniform(-10, 10) for _ in range(4)] for _ in range(120)] \
      + [[vrng.choice([-1.0, -0.5, 0.0, 0.5, 1.0]) for _ in range(4)]
         for _ in range(120)]
    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "i long, v array<double>")
    got = {r.i: (r.s, list(r.q), r.d) for r in df.selectExpr(
        "i", f"{qscale_sql(D.SPARK, 'v')} AS s",
        f"{quantize_sql(D.SPARK, 'v', qscale_sql(D.SPARK, 'v'))} AS q",
        f"{int_dot_sql(D.SPARK, quantize_sql(D.SPARK, 'v', qscale_sql(D.SPARK, 'v')), quantize_sql(D.SPARK, 'v', qscale_sql(D.SPARK, 'v')))} AS d",
    ).collect()}
    con = _duck.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    qd = quantize_sql(D.DUCK, "v", qscale_sql(D.DUCK, "v"))
    want = {i: (s, list(q), d) for i, s, q, d in con.execute(
        f"SELECT i, {qscale_sql(D.DUCK, 'v')}, {qd}, "
        f"{int_dot_sql(D.DUCK, qd, qd)} FROM t").fetchall()}
    bad = {i: (got[i], want[i], vecs[i]) for i in got if got[i] != want[i]}
    assert not bad, f"{len(bad)} divergent, first: {next(iter(bad.items()))}"
