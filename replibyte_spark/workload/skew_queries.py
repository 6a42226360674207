"""Gate queries for the skew-mitigation operators.

The salted plans must produce EXACTLY the unsalted semantics — the oracle is
the plain join / plain count(DISTINCT), so any salting leak (lost rows,
double-counted replicas, salt column escaping) hash-fails.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.skew import salted_count_distinct, salted_join
from . import Query, register

FACTOR = 8


def salted_skew_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH skew mitigations in one driver gate (frees a registry slot for
    the corpus pipeline): the salted orders⋈customer revenue rollup and the
    two-phase salted distinct-count, unioned under a uniform
    (grp, n, metric) schema.  Each half must equal its UNSALTED oracle —
    any salting leak (lost rows, double-counted replicas, salt escaping)
    hash-fails."""
    orders = load_table(spark, sf_dir, "orders")
    cust = (load_table(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"))
    joined = salted_join(orders, cust, on="o_custkey", factor=FACTOR)
    rev = (joined.groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("metric"))
           .select(F.concat(F.lit("join:"), F.col("c_mktsegment")).alias("grp"),
                   "n", "metric"))
    ev = load_table(spark, sf_dir, "events")
    dist = (salted_count_distinct(ev, "event_type", "user_id", factor=FACTOR)
            .select(F.concat(F.lit("distinct:"), F.col("event_type")).alias("grp"),
                    F.col("n_distinct").alias("n"),
                    F.lit(None).cast("double").alias("metric")))
    return rev.unionByName(dist).orderBy("grp")


SALTED_OPS_ORACLE = """
SELECT 'join:' || c_mktsegment AS grp, count(*) AS n,
       round(sum(o_totalprice), 2) AS metric
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
UNION ALL
SELECT 'distinct:' || event_type AS grp,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS metric
FROM events GROUP BY event_type
ORDER BY grp
"""

register(Query("salted_skew_ops", salted_skew_ops, SALTED_OPS_ORACLE,
               tags=("skew",)))


# ---------------------------------------------------------------------------
# Zipfian hot-key bench pair: the same join/agg once through the PLAIN plan
# (hot key funnels through one sort-merge partition) and once through
# salted_join (hot key spread over FACTOR partitions).  Identical semantics,
# identical oracle — BENCH_r{N}.json shows the wall-clock AND
# max-shuffle-task delta side by side, and tests/test_plan_shapes.py locks
# the (key, salt) exchange + partition-spread ratio.

ZIPF_MULT = 50  # row amplifier so the hot partition is big enough to time
# hot-key share: every ZIPF_MOD-th event maps to the synthetic user -1.
# 2 (≈50% of rows) makes the hot partition dominate the join stage, so the
# salted plan wins WALL-CLOCK too at sf0.1×50, not just max-task (at the
# previous 20% share the dim-side ×FACTOR replication cost more than the
# 1M-row hot partition saved — measured r3; see SCALE.md).
ZIPF_MOD = 2


def _zipf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events amplified ×ZIPF_MULT with user_id remapped so one synthetic
    user (-1) owns every ZIPF_MOD-th event_id ≈ 1/ZIPF_MOD of all rows."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev = ev.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(ZIPF_MULT))))
    return ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % ZIPF_MOD == 0, F.lit(-1))
        .otherwise(F.col("user_id")))


def _zipf_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dimension over the remapped id space (includes the hot -1).
    hint("merge") forces the sort-merge join a too-big-to-broadcast dim
    would get at 100 TB — without it this tiny dim broadcasts and the
    skew never reaches a shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.select(
        F.when(F.col("event_id") % ZIPF_MOD == 0, F.lit(-1))
        .otherwise(F.col("user_id")).alias("user_id"))
        .distinct().hint("merge"))


def _zipf_agg(joined: DataFrame) -> DataFrame:
    return (joined.groupBy((F.col("user_id") % 10).alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value") * F.col("rep")), 2).alias("wsum"))
            .orderBy("cohort"))


def zipf_hot_join_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline: plain sort-merge join — the hot key's ~half of all rows
    land in ONE shuffle partition (the problem salting exists to fix)."""
    return _zipf_agg(_zipf_events(spark, sf_dir)
                     .join(_zipf_dim(spark, sf_dir), "user_id"))


def zipf_hot_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join through salted_join: the equi-key becomes (user_id, salt),
    spreading the hot key over FACTOR partitions."""
    joined = salted_join(_zipf_events(spark, sf_dir),
                         _zipf_dim(spark, sf_dir),
                         on="user_id", factor=FACTOR,
                         salt_by=["event_id", "rep"])
    return _zipf_agg(joined)


ZIPF_ORACLE = f"""
WITH z AS (
    SELECT CASE WHEN event_id % {ZIPF_MOD} = 0 THEN -1 ELSE user_id END AS user_id,
           value, r AS rep
    FROM events, range(1, {ZIPF_MULT + 1}) t(r)
), d AS (
    SELECT DISTINCT CASE WHEN event_id % {ZIPF_MOD} = 0 THEN -1 ELSE user_id END AS user_id
    FROM events
)
SELECT z.user_id % 10 AS cohort, count(*) AS n,
       round(sum(z.value * z.rep), 2) AS wsum
FROM z JOIN d ON z.user_id = d.user_id
GROUP BY cohort ORDER BY cohort
"""

register(Query("zipf_hot_join_plain", zipf_hot_join_plain, ZIPF_ORACLE,
               tags=("skew", "bench"), bench=True), extra=True)
register(Query("zipf_hot_join_salted", zipf_hot_join_salted, ZIPF_ORACLE,
               tags=("skew", "bench"), bench=True), extra=True)
