"""Gate queries for the subset operator (SURVEY.md §2.4 SS1-SS7).

The Spark side runs the generic engine (`operators.subset.subset_closure`);
the oracle is the same fixpoint unrolled as CTEs (the fixture FK graph has
diameter 3, so the closure is statically expressible).  Both use the identical
md5-based sampling predicate from the shared dialect builder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_tables
from ..operators.sample import (hash_percent_filter, hash_percent_sql,
                                stopword_score_sql)
from ..operators.subset import FIXTURE_FK_EDGES, subset_closure
from . import Query, register

PCT = 20
SALT = "subset"

# per-table key-checksum expression (cheap value fingerprint for the oracle)
KEYSUM = {
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "nation": "n_nationkey",
    "region": "r_regionkey",
    "lineitem": "l_orderkey * 10 + l_linenumber",
    "part": "p_partkey",
    "supplier": "s_suppkey",
}


def _summarize(kept: dict[str, DataFrame]) -> DataFrame:
    parts = []
    for t in sorted(kept):
        parts.append(
            kept[t].agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum(F.expr(KEYSUM[t])), F.lit(0)).alias("key_sum"),
            ).select(F.lit(t).alias("table_name"), "n_rows", "key_sum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("table_name")


def subset_parent_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful direction: sampled rows + their FK targets,
    recursively (visits(), subset/src/postgres.rs:104-172)."""
    tables = load_tables(spark, sf_dir,
                         ["region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem"])
    seed = hash_percent_filter(tables["orders"], "o_orderkey", PCT, SALT)
    res = subset_closure(tables, FIXTURE_FK_EDGES, "orders", seed)
    return _summarize(res.tables)


def subset_full_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parents + children: orders sample pulls its lineitems, whose parts and
    suppliers (and their nations) are then pulled to restore full RI."""
    tables = load_tables(spark, sf_dir,
                         ["region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem"])
    seed = hash_percent_filter(tables["orders"], "o_orderkey", PCT, SALT)
    res = subset_closure(tables, FIXTURE_FK_EDGES, "orders", seed,
                         include_children=True)
    return _summarize(res.tables)


def _pred(col: str) -> str:
    return hash_percent_sql(D.DUCK, col, PCT, SALT)


_PARENT_CTES = f"""
WITH keep_orders AS (
  SELECT * FROM orders WHERE {_pred('o_orderkey')}
), keep_customer AS (
  SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM keep_orders)
), keep_nation AS (
  SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM keep_customer)
), keep_region AS (
  SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM keep_nation)
)
"""

SUBSET_PARENT_ORACLE = _PARENT_CTES + """
SELECT * FROM (
  SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(coalesce(sum(c_custkey),0) AS BIGINT) AS key_sum FROM keep_customer
  UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_nationkey),0) AS BIGINT) FROM keep_nation
  UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT), CAST(coalesce(sum(o_orderkey),0) AS BIGINT) FROM keep_orders
  UNION ALL SELECT 'region', CAST(count(*) AS BIGINT), CAST(coalesce(sum(r_regionkey),0) AS BIGINT) FROM keep_region
) ORDER BY table_name
"""

_FULL_CTES = f"""
WITH keep_orders AS (
  SELECT * FROM orders WHERE {_pred('o_orderkey')}
), keep_lineitem AS (
  SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM keep_orders)
), keep_customer AS (
  SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM keep_orders)
), keep_part AS (
  SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM keep_lineitem)
), keep_supplier AS (
  SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM keep_lineitem)
), keep_nation AS (
  SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM keep_customer)
                          OR n_nationkey IN (SELECT s_nationkey FROM keep_supplier)
), keep_region AS (
  SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM keep_nation)
)
"""

SUBSET_FULL_ORACLE = _FULL_CTES + """
SELECT * FROM (
  SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(coalesce(sum(c_custkey),0) AS BIGINT) AS key_sum FROM keep_customer
  UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT), CAST(coalesce(sum(l_orderkey * 10 + l_linenumber),0) AS BIGINT) FROM keep_lineitem
  UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_nationkey),0) AS BIGINT) FROM keep_nation
  UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT), CAST(coalesce(sum(o_orderkey),0) AS BIGINT) FROM keep_orders
  UNION ALL SELECT 'part', CAST(count(*) AS BIGINT), CAST(coalesce(sum(p_partkey),0) AS BIGINT) FROM keep_part
  UNION ALL SELECT 'region', CAST(count(*) AS BIGINT), CAST(coalesce(sum(r_regionkey),0) AS BIGINT) FROM keep_region
  UNION ALL SELECT 'supplier', CAST(count(*) AS BIGINT), CAST(coalesce(sum(s_suppkey),0) AS BIGINT) FROM keep_supplier
) ORDER BY table_name
"""

register(Query("subset_parent_closure", subset_parent_closure, SUBSET_PARENT_ORACLE,
               tags=("subset",)))
register(Query("subset_full_closure", subset_full_closure, SUBSET_FULL_ORACLE,
               tags=("subset",), bench=True))


# --- cyclic FK graph: the iterative-fixpoint fallback, gated + measured -----
#
# Two derived tables reference EACH OTHER (a.b_ref → b.b_id, b.a_ref →
# a.a_id), the case the reference left as "TODO break acyclic graph"
# (subset/src/postgres.rs:154).  Both tables derive deterministically from
# `customer`; b points back at floor(id/2), so the closure of a seed id is
# its halving chain — the fixpoint needs ~log2(max_id) rounds (≈14 at
# sf0.1), exercising the per-round count() jobs the DAG path avoids.  The
# oracle is a recursive CTE over the same halving relation.


def cyclic_subset_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators.subset import FkEdge

    cust = load_table(spark, sf_dir, "customer")
    a = cust.select(F.col("c_custkey").alias("a_id"),
                    F.col("c_custkey").alias("b_ref"))
    b = cust.select(F.col("c_custkey").alias("b_id"),
                    F.expr("c_custkey DIV 2").alias("a_ref"))
    edges = [FkEdge("a", "b_ref", "b", "b_id"),
             FkEdge("b", "a_ref", "a", "a_id")]
    seed = a.filter(F.col("a_id") % 100 == 0)
    res = subset_closure({"a": a, "b": b}, edges, "a", seed,
                         max_iterations=40)
    kept_a = res.tables["a"].select(F.lit("a").alias("tbl"),
                                    F.col("a_id").alias("id"))
    kept_b = res.tables["b"].select(F.lit("b").alias("tbl"),
                                    F.col("b_id").alias("id"))
    return kept_a.unionAll(kept_b).orderBy("tbl", "id")


CYCLIC_SUBSET_ORACLE = """
WITH RECURSIVE ka(id) AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0
  UNION
  SELECT c.c_custkey FROM ka JOIN customer c ON c.c_custkey = ka.id // 2
)
SELECT * FROM (
  SELECT 'a' AS tbl, id FROM ka
  UNION ALL
  SELECT 'b' AS tbl, id FROM ka
) ORDER BY tbl, id
"""

register(Query("cyclic_subset_closure", cyclic_subset_closure,
               CYCLIC_SUBSET_ORACLE, tags=("subset",)), extra=True)


# --- stratified sampling (SS3 generalized for training-data curation) -------

LANG_RATES = {"en": 10, "de": 50}


def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rates: downsample dominant languages, keep the tail —
    summarized per language so the gate is order-stable."""
    from ..catalog import load_table
    from ..operators.sample import stratified_percent_filter

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_percent_filter(docs, "doc_id", "lang", LANG_RATES)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("key_sum"))
            .orderBy("lang"))


def _stratified_oracle() -> str:
    from ..operators.sample import stratified_percent_sql

    pred = stratified_percent_sql(D.DUCK, "doc_id", "lang", LANG_RATES)
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS key_sum
FROM documents WHERE {pred}
GROUP BY lang ORDER BY lang
"""


register(Query("stratified_doc_sample", stratified_doc_sample,
               _stratified_oracle(), tags=("sample",)))


# --- token-budget corpus mixing ---------------------------------------------
# The data-mixing step of a training pipeline: languages weighted 5:2:1
# (others dropped), sampled so the expected token mass per language lands
# at its share of MIX_BUDGET.  The oracle recomputes the identical rate
# table in SQL: per-stratum token totals are exact BIGINT sums, and the
# budget-per-stratum constants are config-derived doubles inlined by repr
# (bit-exact round-trip), so threshold = floor(min(1, b/t)·1e6) agrees
# between Python and DuckDB bit for bit.

MIX_WEIGHTS = {"en": 5.0, "de": 2.0, "zh": 1.0}
MIX_BUDGET = 8000


def token_budget_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..functions.text import token_count_sql
    from ..operators.sample import token_budget_mix

    docs = load_table(spark, sf_dir, "documents")
    kept = token_budget_mix(docs, MIX_WEIGHTS, MIX_BUDGET, stratum_col="lang")
    tok = token_count_sql(D.SPARK, "text")
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.expr(f"CAST({tok} AS BIGINT)")).alias("n_tokens"))
            .orderBy("lang"))


def _mix_oracle() -> str:
    from ..functions.text import token_count_sql

    d = D.DUCK
    tok = token_count_sql(d, "text")
    wsum = float(sum(MIX_WEIGHTS.values()))
    budget_case = " ".join(
        f"WHEN {D.q(s)} THEN {MIX_BUDGET * (w / wsum)!r}"
        for s, w in sorted(MIX_WEIGHTS.items()))
    combined = (f"({D.to_str(d, 'doc_id')} || '|' || "
                f"{D.to_str(d, 'lang')})")
    draw = D.hash_uniform_mod(d, combined, "mix", 1_000_000)
    return f"""
WITH tot AS (
  SELECT lang, sum(CAST({tok} AS BIGINT)) AS t FROM documents GROUP BY lang
), thr AS (
  SELECT lang, CASE WHEN coalesce(t, 0) > 0 THEN
    CAST(floor(least(1.0, (CASE lang {budget_case} ELSE 0 END) / t)
               * 1000000) AS BIGINT) ELSE 0 END AS thr
  FROM tot
), kept AS (
  SELECT d.* FROM documents d JOIN thr USING (lang) WHERE {draw} < thr
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST({tok} AS BIGINT)) AS BIGINT) AS n_tokens
FROM kept GROUP BY lang ORDER BY lang
"""


register(Query("token_budget_corpus_mix", token_budget_corpus_mix,
               _mix_oracle(), tags=("sample", "text")), extra=True)


# The dedup gates register here, ahead of per_group_doc_cap: REGISTRY's
# order is the order the correctness gate records, and this import keeps
# the dedup gates at their recorded position in it.
from . import dedup_queries  # noqa: E402,F401


# --- per-group document cap (round 11) ---------------------------------------
# Per-domain caps are the crawl-balancing step of a web curation pipeline
# (bound any one domain's share of the corpus).  The operator is the
# two-phase skew-aware plan (operators/sample.py per_group_cap: only
# OVER-cap groups pay the sort shuffle); the oracle is the naive
# one-window rendering over the same deterministic (md5, key) order —
# any row the phases misroute hash-fails.  The fixture's lang column is
# naturally skewed (en ~44%, four tail langs ~13-15% each), so CAP=100
# exercises BOTH paths at the gated sf: en is capped, the tail passes
# through the anti-join untouched.

DOC_CAP = 100
DOC_CAP_SALT = "group-cap"


def per_group_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators.sample import per_group_cap

    docs = load_table(spark, sf_dir, "documents")
    # margin 4: the monster-group hash-quantile prefilter runs under the
    # oracle — provably identical kept set (operators/sample.py)
    kept = per_group_cap(docs, "lang", "doc_id", DOC_CAP,
                         salt=DOC_CAP_SALT, head_prefilter_margin=4.0)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("id_sum"))
            .orderBy("lang"))


def _doc_cap_oracle() -> str:
    from ..operators.sample import per_group_cap_keep_sql

    rk = per_group_cap_keep_sql(D.DUCK, "lang", "doc_id", DOC_CAP,
                                salt=DOC_CAP_SALT)
    return f"""
WITH ranked AS (
  SELECT lang, doc_id, {rk} AS rk FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE rk <= {DOC_CAP}
GROUP BY lang ORDER BY lang
"""


# DRIVER-GATED since round 11 (took hourly_event_stats' slot — that is a
# plain time-bucketed groupBy already covered by the gated agg family,
# while the cap's two-phase plan can only be misrouted in ways an oracle
# catches: a lost under-cap group, a head row surviving past the cap)
register(Query("per_group_doc_cap", per_group_doc_cap, _doc_cap_oracle(),
               tags=("sample",), bench=True))


# --- quality-weighted sampling (round 11) ------------------------------------
# Soft quality curriculum: keep-probability proportional to an integer
# quality score (stopword density in millionths) instead of a hard
# cutoff — high-quality docs survive at ~1, mid-quality proportionally.
# Score and draw are both integer-exact in the shared dialect, so the
# oracle reproduces the kept set bit for bit.

QW_SALT = "quality-w"


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators.sample import score_weighted_filter

    docs = load_table(spark, sf_dir, "documents")
    kept = score_weighted_filter(docs, "doc_id",
                                 stopword_score_sql(D.SPARK), salt=QW_SALT)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("id_sum"))
            .orderBy("source"))


def _quality_weighted_oracle() -> str:
    from ..operators.sample import score_weighted_sql

    pred = score_weighted_sql(D.DUCK, "doc_id", stopword_score_sql(D.DUCK),
                              salt=QW_SALT)
    return f"""
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE {pred}
GROUP BY source ORDER BY source
"""


register(Query("quality_weighted_sample", quality_weighted_sample,
               _quality_weighted_oracle(), tags=("sample", "text")),
         extra=True)
