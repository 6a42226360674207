"""Subset operator tests — mirrors the reference's golden assertions
(subset/src/postgres.rs:917-975: subset smaller than source, no duplicates,
passthrough complete) plus the stronger RI property the reference lacks."""

from __future__ import annotations

import pytest

from replibyte_spark.catalog import load_tables
from replibyte_spark.operators.sample import hash_percent_filter, systematic_percent
from replibyte_spark.operators.subset import (
    FIXTURE_FK_EDGES,
    subset_closure,
    verify_referential_integrity,
)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def test_full_closure_preserves_referential_integrity(spark, sf_dir):
    tables = load_tables(spark, sf_dir, TABLES)
    seed = hash_percent_filter(tables["orders"], "o_orderkey", 20)
    res = subset_closure(tables, FIXTURE_FK_EDGES, "orders", seed, include_children=True)
    violations = verify_referential_integrity(res.tables, FIXTURE_FK_EDGES)
    assert violations and all(v == 0 for v in violations.values()), violations


def test_subset_is_smaller_than_source(spark, sf_dir):
    """subset/postgres.rs:968-974 — processed < total."""
    tables = load_tables(spark, sf_dir, TABLES)
    seed = hash_percent_filter(tables["orders"], "o_orderkey", 20)
    res = subset_closure(tables, FIXTURE_FK_EDGES, "orders", seed, include_children=True)
    n_orders = tables["orders"].count()
    kept_orders = res.tables["orders"].count()
    assert 0 < kept_orders < n_orders
    # roughly 20% (hash sampling; loose band)
    assert 0.1 < kept_orders / n_orders < 0.3


def test_no_duplicate_rows(spark, sf_dir):
    """Reference dedups via spill files (dedup.rs:9-63); here closure unions
    must stay distinct."""
    tables = load_tables(spark, sf_dir, TABLES)
    seed = hash_percent_filter(tables["orders"], "o_orderkey", 20)
    res = subset_closure(tables, FIXTURE_FK_EDGES, "orders", seed, include_children=True)
    for t, df in res.tables.items():
        assert df.count() == df.distinct().count(), f"duplicates in {t}"


def test_passthrough_tables_complete(spark, sf_dir):
    """subset/src/lib.rs:32-55 — passthrough tables are copied 100%."""
    tables = load_tables(spark, sf_dir, TABLES)
    seed = hash_percent_filter(tables["orders"], "o_orderkey", 20)
    res = subset_closure(tables, FIXTURE_FK_EDGES, "orders", seed,
                         passthrough_tables=["part"])
    assert res.tables["part"].count() == tables["part"].count()


def test_closure_terminates_on_cycle(spark):
    """The reference's acknowledged TODO (subset/postgres.rs:154): cyclic FK
    graphs must not loop forever."""
    from replibyte_spark.operators.subset import FkEdge

    a = spark.createDataFrame([(1, 2), (2, 1), (3, 3)], "id long, ref long")
    b = spark.createDataFrame([(1, 1), (2, 3), (3, 2)], "id long, ref long")
    edges = [FkEdge("a", "ref", "b", "id"), FkEdge("b", "ref", "a", "id")]
    seed = a.filter("id = 1")
    res = subset_closure({"a": a, "b": b}, edges, "a", seed)
    assert res.iterations < 20
    # closure from a1: a1→b2→a3→b3→a2→b1→a1 ... full cycle pulls everything
    assert res.tables["a"].count() == 3
    assert res.tables["b"].count() == 3


def test_systematic_percent_matches_reference_modulo():
    """Every k-th row semantics (subset/postgres.rs:316-328)."""
    from replibyte_spark.session import get_spark

    spark = get_spark("t", cpus=4)
    df = spark.range(1, 101).withColumnRenamed("id", "k")
    out = systematic_percent(df, "k", 20)
    got = sorted(r.k for r in out.collect())
    assert got == [5, 10, 15, 20, 25, 30, 35, 40, 45, 50,
                   55, 60, 65, 70, 75, 80, 85, 90, 95, 100]


def test_hash_percent_keep_rate_is_uniform(spark):
    """The uniform hex hash must keep pct +/- 0.5pp (the old digit-translate
    derivation under-kept 20% by ~1.8pp)."""
    from replibyte_spark.operators.sample import hash_percent_filter

    df = spark.range(100_000).withColumnRenamed("id", "k")
    for pct in (5, 20, 50):
        kept = hash_percent_filter(df, "k", pct, salt="rate").count()
        rate = 100.0 * kept / 100_000
        assert abs(rate - pct) <= 0.5, f"pct={pct}: observed {rate:.3f}"


def test_hash_percent_spark_duckdb_agree(spark):
    import duckdb
    from pyspark.sql import functions as F

    from replibyte_spark import dialect as D
    from replibyte_spark.operators.sample import hash_percent_sql

    got = sorted(r.id for r in spark.range(5000).filter(
        F.expr(hash_percent_sql(D.SPARK, "id", 20, "x"))).collect())
    con = duckdb.connect()
    want = sorted(r[0] for r in con.execute(
        f"SELECT i FROM range(5000) t(i) WHERE "
        f"{hash_percent_sql(D.DUCK, 'i', 20, 'x')}").fetchall())
    assert got == want and got


def test_stratified_rates_apply_per_stratum(spark):
    from pyspark.sql import functions as F

    from replibyte_spark.operators.sample import stratified_percent_filter

    df = spark.range(40_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("s"))
    kept = stratified_percent_filter(df, "k", "s", {"big": 10}, default_pct=80)
    rates = {r.s: r.n for r in
             kept.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(rates["big"] / 20_000 - 0.10) < 0.01
    assert abs(rates["small"] / 20_000 - 0.80) < 0.01


def test_parent_referenced_via_two_different_columns(spark):
    """A parent table referenced through TWO different columns (users.id
    AND users.email) must be semi-joined once per column — the old
    positional unionAll merged email values into the id key set and
    silently dropped the email-referenced rows."""
    from replibyte_spark.operators.subset import FkEdge, subset_closure

    users = spark.createDataFrame(
        [(1, "a@x"), (2, "b@x"), (3, "c@x"), (4, "d@x")],
        "id long, email string")
    accounts = spark.createDataFrame([(100,), (101,)], "aid long")
    orders = spark.createDataFrame(
        [(10, 100, 1), (11, 101, 2)], "oid long, aid long, buyer_id long")
    msgs = spark.createDataFrame(
        [(20, 100, "c@x")], "mid long, aid long, sender_email string")
    edges = [FkEdge("orders", "aid", "accounts", "aid"),
             FkEdge("msgs", "aid", "accounts", "aid"),
             FkEdge("orders", "buyer_id", "users", "id"),
             FkEdge("msgs", "sender_email", "users", "email")]
    res = subset_closure(
        {"users": users, "accounts": accounts, "orders": orders,
         "msgs": msgs},
        edges, "accounts", accounts, include_children=True)
    kept_users = sorted(r.id for r in res.tables["users"].collect())
    # buyers 1,2 via users.id AND sender 3 via users.email; 4 unreferenced
    assert kept_users == [1, 2, 3]
    assert res.tables["orders"].count() == 2
    assert res.tables["msgs"].count() == 1


def test_token_budget_mix_hits_weighted_budgets(spark, sf_dir):
    """The kept token mass per stratum lands near min(budget_s, total_s):
    capped strata keep everything, uncapped strata keep ≈ their share of
    the budget (hash sampling: expect within ~35% on fixture sizes), and
    unlisted strata are dropped entirely.  Thresholds reuse verbatim."""
    from pyspark.sql import functions as F

    from replibyte_spark import dialect as D
    from replibyte_spark.catalog import load_table
    from replibyte_spark.functions.text import token_count_sql
    from replibyte_spark.operators.sample import (token_budget_mix,
                                                  token_budget_thresholds)

    docs = load_table(spark, sf_dir, "documents")
    weights, budget = {"en": 5.0, "de": 2.0, "zh": 1.0}, 8000
    tok = f"CAST({token_count_sql(D.SPARK, 'text')} AS BIGINT)"
    totals = {r["lang"]: r["t"] for r in
              docs.groupBy("lang").agg(F.expr(f"sum({tok})").alias("t"))
              .collect()}
    kept = token_budget_mix(docs, weights, budget, stratum_col="lang")
    got = {r["lang"]: r["t"] for r in
           kept.groupBy("lang").agg(F.expr(f"sum({tok})").alias("t"))
           .collect()}
    assert set(got) <= set(weights)          # es/fr dropped
    wsum = sum(weights.values())
    for s, w in weights.items():
        want = min(budget * w / wsum, totals[s])
        assert got.get(s, 0) == pytest.approx(want, rel=0.35), (s, got, want)
    thr = token_budget_thresholds(docs, weights, budget, stratum_col="lang")
    again = token_budget_mix(docs, weights, budget, stratum_col="lang",
                             thresholds=thr)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple,
                                                             kept.collect()))


def test_cyclic_closure_frees_superseded_checkpoints(spark, empty_registry):
    """The cyclic fixpoint localCheckpoints every merge; superseded and
    discarded frames must be released as the loop runs, not parked in
    executor storage until the scope ends.  After the closure, the
    registry may hold only the LIVE frames (seed + current kept/expand
    per table) — a multi-round cycle would otherwise leave one orphan per
    round — and the scope frees those."""
    from replibyte_spark.operators.subset import FkEdge
    from replibyte_spark.util import released

    a = spark.createDataFrame([(1, 2), (2, 1), (3, 3)], "id long, ref long")
    b = spark.createDataFrame([(1, 1), (2, 3), (3, 2)], "id long, ref long")
    edges = [FkEdge("a", "ref", "b", "id"), FkEdge("b", "ref", "a", "id")]
    seed = a.filter("id = 1")
    with released():
        res = subset_closure({"a": a, "b": b}, edges, "a", seed,
                             include_children=True)
        assert res.iterations >= 3          # genuinely multi-round
        # live frames: seed + kept[a] + kept[b] + expand[a] + expand[b] —
        # each pins one checkpoint RDD; anything above that is a leak
        pinned = empty_registry()
        assert pinned <= 5, f"{pinned} persistent RDDs after cyclic closure"
        # results are still consumable (no live frame was freed)
        assert res.tables["a"].count() == 3
        assert res.tables["b"].count() == 3
    assert empty_registry() == 0


def test_corpus_quality_report_approx_close_to_exact(spark, sf_dir):
    """approx_percentile (the mergeable 100 TB sketch path) must land
    within a small relative tolerance of the exact interpolated
    percentiles on the fixture distribution; totals/counts/means are
    sketch-free and must be identical."""
    from replibyte_spark import dialect as D
    from replibyte_spark.catalog import load_table
    from replibyte_spark.functions import text as T
    from replibyte_spark.operators.sample import corpus_quality_report

    d = D.SPARK
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "source",
        f"CAST({T.token_count_sql(d, 'text')} AS BIGINT) AS n_tokens",
        f"round({T.quality_score_sql(d, 'text')}, 6) AS quality")
    exact = {r.source: r.asDict() for r in
             corpus_quality_report(docs, "source").collect()}
    approx = {r.source: r.asDict() for r in
              corpus_quality_report(docs, "source", approx=True).collect()}
    assert set(exact) == set(approx) and exact
    for src in exact:
        e, a = exact[src], approx[src]
        assert e["n_docs"] == a["n_docs"]
        assert e["total_tokens"] == a["total_tokens"]
        assert e["avg_quality"] == a["avg_quality"]
        for k in ("p25_tokens", "p50_tokens", "p90_tokens", "p99_tokens"):
            assert abs(a[k] - e[k]) <= max(2.0, 0.05 * e[k]), (src, k, e, a)


def test_temperature_mix_flattens_the_head(spark):
    """T=1 keeps raw proportions in expectation; larger T must shift kept
    token share from the dominant stratum toward the tail (the mT5 rule's
    defining property), and rates must stay valid keep-probabilities."""
    from pyspark.sql import functions as F

    from replibyte_spark.operators.sample import temperature_mix

    rows = ([(i, "en", "tok " * 40) for i in range(400)]        # dominant
            + [(1000 + i, "fi", "tok " * 40) for i in range(20)])  # tail
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def share(kept):
        counts = {r["lang"]: r["n"] for r in
                  kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        total = sum(counts.values())
        return counts.get("en", 0) / total if total else None

    budget = 4000   # tokens; corpus has 16800 -> real downsampling
    s1 = share(temperature_mix(docs, budget, temperature=1.0))
    s3 = share(temperature_mix(docs, budget, temperature=3.0))
    # raw share of en is 400/420 ~ 0.952; T=3 must flatten it down
    assert s1 is not None and s3 is not None
    assert s3 < s1 - 0.05, (s1, s3)
    # determinism: the same call keeps the identical doc set
    a = sorted(r["doc_id"] for r in
               temperature_mix(docs, budget, temperature=3.0).collect())
    b = sorted(r["doc_id"] for r in
               temperature_mix(docs, budget, temperature=3.0).collect())
    assert a == b


def test_temperature_mix_rejects_bad_temperature(spark):
    import pytest as _pytest

    from replibyte_spark.operators.sample import temperature_mix

    docs = spark.createDataFrame([(1, "en", "a b")],
                                 "doc_id long, lang string, text string")
    with _pytest.raises(ValueError, match="temperature"):
        temperature_mix(docs, 100, temperature=0.0)


def test_per_group_cap_matches_naive_window(spark, sf_dir):
    """The two-phase plan (anti-join bypass + head-only window) must keep
    EXACTLY the rows the naive one-window rendering keeps."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    import replibyte_spark.dialect as D
    from replibyte_spark.catalog import load_table
    from replibyte_spark.operators.sample import per_group_cap

    docs = load_table(spark, sf_dir, "documents")
    cap = 60  # en (~44%) lands over, the tail langs under
    got = {r.doc_id for r in
           per_group_cap(docs, "lang", "doc_id", cap).select("doc_id").collect()}
    h = F.expr(D.md5_hex(D.SPARK, "doc_id", "group-cap"))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    want = {r.doc_id for r in
            docs.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= cap).select("doc_id").collect()}
    assert got == want
    # under-cap groups pass through complete
    per_lang = {r.lang: r.n for r in
                docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_per_lang = {r.lang: r.n for r in
                     per_group_cap(docs, "lang", "doc_id", cap)
                     .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in per_lang.items():
        assert kept_per_lang.get(lang, 0) == min(n, cap), lang


def test_per_group_cap_guard_and_edge_caps(spark, sf_dir):
    """cap=0 empties every non-empty group; a zero broadcast_group_limit
    compiles WITHOUT any BroadcastExchange (shuffled fallback, not a
    forced driver OOM)."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.operators.sample import per_group_cap

    docs = load_table(spark, sf_dir, "documents")
    assert per_group_cap(docs, "lang", "doc_id", 0).count() == 0

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = per_group_cap(docs, "lang", "doc_id", 3,
                                broadcast_group_limit=0)
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        n_langs = docs.select("lang").distinct().count()
        assert guarded.count() == 3 * n_langs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        per_group_cap(docs, "lang", "doc_id", -1)


def test_score_weighted_filter_rates(spark, sf_dir):
    """Constant scores reproduce their keep probability exactly at the
    boundary values and approximately mid-range; both dialect renderings
    keep the same rows."""
    import replibyte_spark.dialect as D
    from replibyte_spark.catalog import load_table
    from replibyte_spark.operators.sample import (score_weighted_filter,
                                                  score_weighted_sql)

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert score_weighted_filter(docs, "doc_id", "1000000").count() == n
    assert score_weighted_filter(docs, "doc_id", "0").count() == 0
    mid = score_weighted_filter(docs, "doc_id", "500000").count()
    assert 0.4 * n <= mid <= 0.6 * n, mid

    import duckdb
    con = duckdb.connect()
    pred = score_weighted_sql(D.DUCK, "doc_id", "500000")
    want = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet' WHERE {pred}"
    ).fetchone()[0]
    assert mid == want


def test_per_group_cap_head_prefilter_is_exact(spark, sf_dir):
    """The hash-quantile prefilter must keep the kept set IDENTICAL to
    the unfiltered window — at a generous margin, at a margin so tight
    the exactness check routes every group through the fallback, and
    with the kept set verified row-for-row in all cases."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.operators.sample import per_group_cap

    docs = load_table(spark, sf_dir, "documents")
    cap = 40
    base = {r.doc_id for r in
            per_group_cap(docs, "lang", "doc_id", cap)
            .select("doc_id").collect()}
    for margin in (4.0, 1.5, 0.2):  # 0.2 < 1: every group under-survives
        got = {r.doc_id for r in
               per_group_cap(docs, "lang", "doc_id", cap,
                             head_prefilter_margin=margin)
               .select("doc_id").collect()}
        assert got == base, margin
    # schema must be unchanged (helper columns dropped)
    out = per_group_cap(docs, "lang", "doc_id", cap,
                        head_prefilter_margin=4.0)
    assert out.columns == docs.columns

    import pytest as _pytest
    with _pytest.raises(ValueError):
        per_group_cap(docs, "lang", "doc_id", cap,
                      head_prefilter_margin=0.0)


def test_per_group_cap_prefilter_shrinks_the_sort_input(spark):
    """On a synthetic monster group the rows entering the window must be
    ~margin*cap, not the group size — measured by running the survivor
    subplan logic: with n=20000 and cap=50 at margin 4, the hash cut
    keeps a few hundred rows, never the full group."""
    from pyspark.sql import functions as F

    import replibyte_spark.dialect as D

    n, cap, margin = 20000, 50, 4.0
    df = spark.range(n).select(F.lit("dom").alias("g"),
                               F.col("id").alias("k"))
    prefix = F.expr(D.hash_uniform_long(D.SPARK, "k", "group-cap"))
    cutoff = float(2 ** 48) * margin * cap / n
    surv = df.filter(prefix < F.lit(cutoff)).count()
    # binomial(n, margin*cap/n): mean 200, sd ~14 — wide bounds
    assert cap <= surv <= 3 * margin * cap, surv
