"""Analytic query set — the engine's general query surface.

The reference has no SELECT evaluator at all (SURVEY.md §2.9); these queries
demonstrate that the Spark-native engine supersets it with real joins,
aggregations, windows, top-k and JSON access — all expressed declaratively so
Catalyst plans them (broadcast joins for dims, partial aggregation, pushdown).

Floating-point aggregates are rounded on BOTH sides (sum→2dp, avg/ratio→6dp)
because partition summation order differs between engines; without rounding
the driver's value hash would flap on the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from . import Query, register


# --- q1: pricing summary (flagship; TPC-H Q1 shape) ------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

register(Query("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE,
               tags=("agg",), bench=True))


# --- q3: shipping-priority style top-k join --------------------------------

def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    # customer is small relative to orders → broadcast the dim side
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


Q3_ORACLE = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

register(Query("q3_top_revenue_orders", q3_top_revenue_orders, Q3_ORACLE,
               tags=("join", "topk"), bench=True))


# --- q5: region/nation rollup (5-way join) ---------------------------------

def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # dims (region/nation/customer) are broadcast; only orders⋈lineitem shuffles
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


Q5_ORACLE = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""

# EXTRA since r9: q5's risk surface (multi-way broadcast dim join + agg)
# is covered by q3 + revenue_rollup in the gated set and its plan shape
# stays locked by test_plan_shapes; the driver slot went to
# source_overlap_sketch (dataset-overlap estimation, previously ungated).
register(Query("q5_region_volume", q5_region_volume, Q5_ORACLE,
               tags=("join", "agg"), bench=True), extra=True)


# --- window function: top order per customer -------------------------------

def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("top_price"))
        .orderBy("o_custkey")
    )


TOP_ORDER_ORACLE = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS top_price
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) t
WHERE rn = 1
ORDER BY o_custkey
"""

register(Query("top_order_per_customer", top_order_per_customer, TOP_ORDER_ORACLE,
               tags=("window",)), extra=True)


# --- events: time-bucketed aggregation (batch form of the streaming agg) ---

def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


HOURLY_ORACLE = """
SELECT date_trunc('hour', ts)   AS hour,
       event_type,
       count(*)                 AS n_events,
       round(sum(value), 2)     AS sum_value,
       round(avg(value), 6)     AS avg_value,
       count(DISTINCT user_id)  AS n_users
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

# EXTRA since round 11 (still oracle-checked by pytest and still a bench
# row): its REGISTRY slot went to per_group_doc_cap — this is a plain
# time-bucketed groupBy whose surface the driver already gates via
# q1/q3/q5 (batch aggs) and session_stats/stateful_running_totals (event
# time), while the two-phase cap has a real plan risk (phase misroute)
# only an oracle catches
register(Query("hourly_event_stats", hourly_event_stats, HOURLY_ORACLE,
               tags=("agg", "time"), bench=True), extra=True)


# --- as-of join --------------------------------------------------------------

def purchases_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every purchase enriched with the user's most recent prior click.
    The oracle uses DuckDB's NATIVE `ASOF LEFT JOIN` — an independent
    implementation of the semantics, not a transliteration of our plan."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "event_id")
    return (asof_join(purchases, clicks, on="user_id", right_payload=["event_id"])
            .select("event_id", "user_id", "ts",
                    F.col("ts_matched").alias("click_ts"),
                    F.col("event_id_matched").alias("click_event_id"))
            .orderBy("event_id"))


ASOF_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts,
       c.ts AS click_ts, c.event_id AS click_event_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""

register(Query("purchases_asof_last_click", purchases_asof_last_click,
               ASOF_ORACLE, tags=("join", "asof"), bench=True), extra=True)


def purchases_asof_recent_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a freshness tolerance: clicks older than one hour
    are discarded (pandas merge_asof tolerance semantics)."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "event_id")
    return (asof_join(purchases, clicks, on="user_id",
                      right_payload=["event_id"], tolerance_seconds=3600)
            .select("event_id", "user_id", "ts",
                    F.col("ts_matched").alias("click_ts"),
                    F.col("event_id_matched").alias("click_event_id"))
            .orderBy("event_id"))


# Both engines compare exact integer MICROSECONDS (Spark unix_micros /
# DuckDB epoch_us) — round 5 replaced the earlier per-side whole-second
# truncation, which mis-decided sub-second-boundary matches.
ASOF_TOL_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     j AS (
       SELECT p.event_id, p.user_id, p.ts,
              c.ts AS click_ts, c.event_id AS click_event_id
       FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
     ), fresh AS (
       SELECT *, (click_ts IS NOT NULL AND
                  epoch_us(ts) - epoch_us(click_ts) <= 3600000000) AS ok
       FROM j
     )
SELECT event_id, user_id, ts,
       CASE WHEN ok THEN click_ts END AS click_ts,
       CASE WHEN ok THEN click_event_id END AS click_event_id
FROM fresh ORDER BY event_id
"""

register(Query("purchases_asof_recent_click", purchases_asof_recent_click,
               ASOF_TOL_ORACLE, tags=("join", "asof")))


# --- statistical aggregates --------------------------------------------------

def order_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderstatus")
            .agg(F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
                 F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("price_median"),
                 F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("price_p95"),
                 F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("price_cust_corr"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("o_orderstatus"))


STATS_ORACLE = """
SELECT o_orderstatus,
       round(stddev_samp(o_totalprice), 4)          AS price_stddev,
       round(quantile_cont(o_totalprice, 0.5), 4)   AS price_median,
       round(quantile_cont(o_totalprice, 0.95), 4)  AS price_p95,
       round(corr(o_totalprice, o_custkey), 6)      AS price_cust_corr,
       count(*)                                     AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

register(Query("order_price_stats", order_price_stats, STATS_ORACLE,
               tags=("agg", "stats")), extra=True)


# --- anti-join: customers with no orders ------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no recent orders (anti-join; every customer has SOME
    order in the fixtures, so the cutoff keeps the result non-trivial)."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    return (cust.join(recent.select(F.col("o_custkey").alias("c_custkey")),
                      on="c_custkey", how="left_anti")
            .select("c_custkey", "c_name", "c_mktsegment")
            .orderBy("c_custkey"))


ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
ORDER BY c_custkey
"""

# EXTRA since round 11 (still oracle-checked by pytest): its REGISTRY
# slot went to curation_pipeline_v4 — anti-join coverage overlaps the
# gated q3/asof join family, while v4 is the end-to-end curation
# headline (and a bench row) that was previously driver-invisible
register(Query("customers_without_orders", customers_without_orders, ANTI_ORACLE,
               tags=("join", "anti")), extra=True)


# --- rollup: multi-level revenue aggregation --------------------------------

def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders"))
            .orderBy(F.asc_nulls_first("o_orderstatus"),
                     F.asc_nulls_first("o_orderpriority")))


ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""

# EXTRA since r10 (slot went to quantized_ivf_topk): grouping-set NULL
# semantics are the only surface q1/q3 don't already gate, and the
# pytest oracle sweep keeps checking it
register(Query("revenue_rollup", revenue_rollup, ROLLUP_ORACLE,
               tags=("agg", "rollup")), extra=True)


# --- events: JSON property extraction --------------------------------------

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 6).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_ORACLE = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k,
       count(*)                                                         AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# EXTRA since round 11 (still oracle-checked by pytest): its REGISTRY
# slot went to gopher_quality_summary — this is a 5-row JSON projection
# check, while the Gopher filter is a first-class LLM-pipeline component
# the driver window should gate directly
register(Query("events_json_extract", events_json_extract, EVENTS_JSON_ORACLE,
               tags=("json",)), extra=True)


# --- bucketed-layout co-located join (round 11) ------------------------------
# The write-once-shuffle-never-again storage lever: orders and lineitem
# bucketed INTO the same bucket count on the join key join exchange-free
# (SortMergeJoin, both scans `Bucketed: true`, zero Exchange on the key —
# locked by tests/test_plan_shapes.py).  The layout is transparent to
# results, so the plain-parquet oracle must hash-match exactly; at this
# fixture scale the planner rightly prefers a broadcast join (the test
# disables it to expose the 100 TB fact-to-fact shape this layout buys).

BKT_N = 8


def _bucketed_pair(spark: SparkSession, sf_dir: str):
    import hashlib
    import os
    import tempfile

    from ..sinks.bucketed import ensure_bucketed_table

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"rs_bucketed_{key}")
    orders = ensure_bucketed_table(
        spark, load_table(spark, sf_dir, "orders"),
        f"rs_orders_bkt_{key}", os.path.join(base, "orders"),
        "o_orderkey", BKT_N)
    lineitem = ensure_bucketed_table(
        spark, load_table(spark, sf_dir, "lineitem"),
        f"rs_lineitem_bkt_{key}", os.path.join(base, "lineitem"),
        "l_orderkey", BKT_N)
    return orders, lineitem


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = _bucketed_pair(spark, sf_dir)
    j = lineitem.join(orders,
                      lineitem.l_orderkey == orders.o_orderkey)
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy("o_orderpriority"))


BUCKETED_JOIN_ORACLE = """
SELECT o_orderpriority, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

# driver-visible since r12 (was EXTRA): the only exchange-free-layout
# proof in the registry — took source_schema_listing's slot (that
# metadata listing stays oracle-checked in EXTRA).
register(Query("bucketed_join_revenue", bucketed_join_revenue,
               BUCKETED_JOIN_ORACLE, tags=("join", "layout")))


# --- time-partitioned layout + partition pruning (round 12) -----------------
# The range twin of the bucketed layout: events written PARTITIONED BY
# event_date, so a date-range query prunes to the matching directories at
# planning time (PartitionFilters in the scan, locked by
# tests/test_plan_shapes.py — at 100 TB with daily partitions a one-week
# query reads ~0.2% of the files).  The oracle recomputes from the raw
# table with the equivalent timestamp predicate, so the layout must be
# lossless AND the date derivation must agree with CAST(ts AS DATE).

PART_LO, PART_HI = "2024-01-08", "2024-01-14"

_PART_LAYOUT_PATHS: dict[str, str] = {}


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from ..sinks.partitioned import write_time_partitioned
    from .pipeline import _dataset_fingerprint

    key = (sf_dir.strip("/").replace("/", "_") + "_"
           + _dataset_fingerprint(sf_dir, "events"))
    path = _PART_LAYOUT_PATHS.get(key)
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"rs_part_events_{key}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            write_time_partitioned(load_table(spark, sf_dir, "events"),
                                   path, ts_col="ts")
        _PART_LAYOUT_PATHS[key] = path
    return path


def partitioned_events_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range aggregation through the partitioned layout: the range
    predicate lands on the partition column, so only the window's
    directories are scanned."""
    from ..sinks.partitioned import load_time_partitioned

    df = load_time_partitioned(spark, _partitioned_events(spark, sf_dir))
    return (df.filter(F.col("event_date").between(PART_LO, PART_HI))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .orderBy("event_type"))


PARTITIONED_EVENTS_ORACLE = f"""
SELECT event_type, count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN '{PART_LO}' AND '{PART_HI}'
GROUP BY event_type ORDER BY event_type
"""

# REGISTRY since round 13 (was EXTRA in r12): planning-time partition
# pruning is a scan-correctness surface — a pruning bug silently drops
# whole days from every downstream aggregate, exactly the failure class
# only an oracle catches.
register(Query("partitioned_events_revenue", partitioned_events_revenue,
               PARTITIONED_EVENTS_ORACLE, tags=("layout", "agg"),
               bench=True))
