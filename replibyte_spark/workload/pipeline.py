"""Replibyte-semantics queries: transform (dump create), skip/only table
filters, and the dump manifest view.

These re-express the reference's ETL surface as declarative plans:
- transform = one narrow projection per table (reference: per-row transformer
  dispatch, /root/reference/replibyte/src/source/postgres.rs:417-424)
- skip/only = not reading the table at all — the pushdown analogue of
  `pg_dump --table` / `mysqldump --ignore-table`
  (/root/reference/replibyte/src/source/postgres.rs:132-139, mysql.rs:128-136)

Both sides (Spark plan and DuckDB oracle) are generated from the same
transformer spec via the dialect builder, so they cannot drift.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from ..functions.transformers import transformer_sql
from . import Query, register

# spec: (output_column, transformer_id, source_column)
CUSTOMER_PII_SPEC = [
    ("c_custkey", None, "c_custkey"),
    ("c_name", "first-name", "c_name"),
    ("c_email", "email", "c_name"),
    ("c_phone", "phone-number", "c_name"),
    ("c_card", "credit-card", "c_name"),
    ("c_nationkey", None, "c_nationkey"),
    ("c_acctbal", "random-float", "c_acctbal"),
    ("c_mktsegment", "redacted", "c_mktsegment"),
]

ORDERS_MASK_SPEC = [
    ("o_orderkey", None, "o_orderkey"),
    ("o_custkey", "random-integer", "o_custkey"),
    ("o_orderstatus", "keep-first-char", "o_orderstatus"),
    ("o_totalprice", None, "o_totalprice"),
    ("o_orderdate", "random-date", "o_orderkey"),
    ("o_orderpriority", "random", "o_orderpriority"),
]


def _spec_exprs(spec, d: str) -> list[str]:
    out = []
    for alias, tname, src in spec:
        e = src if tname is None else transformer_sql(tname, d, src)
        out.append(f"{e} AS {alias}")
    return out


def _spec_query(table: str, spec, order_by: str):
    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # orderBy BELOW the transform projection (r14): the sort key is a
        # pass-through source column, so sorting first is row-identical —
        # but the range partitioner samples its CHILD, and with the
        # projection below the sort the md5-seeded transformer
        # expressions (the whole cost of this query) evaluated once for
        # the sample pass and again for the real exchange, both
        # single-task on the one-split scan (2 × ~850 ms at sf0.1).
        # Sorted-then-projected, sampling touches only raw rows and the
        # transforms run once, parallel, above the range exchange.
        df = load_table(spark, sf_dir, table)
        return df.orderBy(order_by).selectExpr(*_spec_exprs(spec, D.SPARK))

    oracle = (f"SELECT {', '.join(_spec_exprs(spec, D.DUCK))} "
              f"FROM {table} ORDER BY {order_by}")
    return spark_fn, oracle


_cust_fn, _cust_oracle = _spec_query("customer", CUSTOMER_PII_SPEC, "c_custkey")
register(Query("transform_customer_pii", _cust_fn, _cust_oracle,
               tags=("transform",), bench=True))

_ord_fn, _ord_oracle = _spec_query("orders", ORDERS_MASK_SPEC, "o_orderkey")
register(Query("transform_orders_mask", _ord_fn, _ord_oracle,
               tags=("transform",)))


# --- nested transformer ($[] wildcard) -------------------------------------

def nested_wildcard_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MongoDB-path capability (reference source/mongodb.rs:232-254):
    build an array-of-structs per customer, transform `contacts.$[].email`
    through the path compiler, then flatten.  The oracle computes the same
    values flat — so the nest→wildcard-transform→unnest round-trip must be
    lossless and value-exact."""
    from ..functions.nested import transform_nested

    # no fan_out on the scan: CollapseRepartition erases any round-robin
    # exchange directly under the explicit key repartition below, so the
    # join+struct map stays on the scan's own splits (one task at fixture
    # scale, ~200 ms; wide at real scale — the scale-adaptive residue)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nested = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_custkey",
                F.struct(F.col("o_orderkey").alias("order_key"),
                         F.col("c_name").alias("email")).alias("contact"))
        # explicit key-partitioned exchange BELOW the agg (exempt from
        # AQE coalescing — the bm25 idiom, r14): byte-based coalescing
        # collapsed the small agg to ONE partition, so the collect_list
        # reduce AND the md5 email transform over every array element
        # ran single-task (the transform twice: range sampling + real
        # exchange — 1.0 + 1.4 s of the gate's 2.7 s).  Partitioned by
        # the grouping key the exchange satisfies the agg's clustering
        # (no second shuffle), its map stage is computed once and reused
        # by both the sampling and main jobs, and everything above it —
        # agg, wildcard transform, explode, sort sampling — runs wide.
        # NOT fan_out here: its partition-count probe executes a
        # not-yet-final aggregate under AQE (the simhash lesson).
        .repartition(spark.sparkContext.defaultParallelism, "o_custkey")
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("contact")).alias("contacts"))
    )
    masked = transform_nested(nested, "contacts.$[].email", "email")
    return (masked.select("o_custkey",
                          F.explode("contacts").alias("c"))
            .select("o_custkey", F.col("c.order_key").alias("order_key"),
                    F.col("c.email").alias("email"))
            .orderBy("o_custkey", "order_key"))


from ..functions.transformers import email_sql as _email_sql  # noqa: E402

NESTED_ORACLE = f"""
SELECT o_custkey, o_orderkey AS order_key,
       {_email_sql(D.DUCK, 'c_name')} AS email
FROM orders JOIN customer ON o_custkey = c_custkey
ORDER BY o_custkey, order_key
"""

# bench=True (r14): rewritten this round (explicit keyed exchange below
# the agg, 0.59× at 8c) — benching keeps the cost driver-visible (the
# bench contract allows ADDING rows)
register(Query("nested_wildcard_transform", nested_wildcard_transform,
               NESTED_ORACLE, tags=("transform", "nested"), bench=True))


# --- SQL-text dump round-trip ----------------------------------------------

def sqldump_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → INSERT-statement text → statement splitter + typed parser →
    rows.  Exercises the reference's parser spine (P1 splitter, P4-P7
    classifier/decoder, P8 re-encoder) end to end; the oracle reads the
    table directly, so any parser loss shows up as a hash mismatch."""
    import tempfile

    from ..sinks.sqldump_sink import write_sql_dump
    from ..sources.sqldump import read_sql_dump

    supplier = load_table(spark, sf_dir, "supplier")
    path = tempfile.mkdtemp(prefix="rs_gate_sqldump_") + "/supplier"
    write_sql_dump(supplier, "supplier", path)
    back = read_sql_dump(spark, path)["supplier"]
    return back.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.col("s_name").alias("s_name"),
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    ).orderBy("s_suppkey")


register(Query("sqldump_roundtrip", sqldump_roundtrip,
               "SELECT s_suppkey, s_name, s_nationkey, s_acctbal "
               "FROM supplier ORDER BY s_suppkey",
               tags=("pipeline", "parser"), bench=True))


def copy_dump_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → COPY-format text (pg_dump's DEFAULT shape: tab-separated data
    block + `\\.` terminator) → splitter + COPY parser → rows.  Covers the
    format the reference's own golden dump uses
    (db/postgres/fulldump.sql; ingested via its statement stream,
    dump-parser/src/utils.rs:33-121)."""
    import tempfile

    from ..sinks.sqldump_sink import write_copy_dump
    from ..sources.sqldump import read_sql_dump

    part = load_table(spark, sf_dir, "part")
    path = tempfile.mkdtemp(prefix="rs_gate_copydump_") + "/part"
    write_copy_dump(part, "public.part", path)
    back = read_sql_dump(spark, path)["part"]
    return back.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        F.col("p_name").alias("p_name"),
        F.col("p_brand").alias("p_brand"),
        F.col("p_size").cast("int").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).orderBy("p_partkey")


register(Query("copy_dump_roundtrip", copy_dump_roundtrip,
               "SELECT p_partkey, p_name, p_brand, p_size, p_retailprice "
               "FROM part ORDER BY p_partkey",
               tags=("pipeline", "parser")), extra=True)


def copy_parallel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE monolithic COPY file read back through the line-splitting
    parallel reader (read_copy_dump_parallel) — the path that keeps a
    single multi-GB pg_dump from serializing on one task."""
    import tempfile

    from ..sinks.sqldump_sink import write_copy_dump
    from ..sources.sqldump import read_copy_dump_parallel

    part = load_table(spark, sf_dir, "part")
    path = tempfile.mkdtemp(prefix="rs_gate_copypar_") + "/part"
    write_copy_dump(part, "public.part", path, single_file=True)
    back = read_copy_dump_parallel(spark, path)["part"]
    return back.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        F.col("p_name").alias("p_name"),
        F.col("p_brand").alias("p_brand"),
        F.col("p_size").cast("int").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).orderBy("p_partkey")


register(Query("copy_parallel_roundtrip", copy_parallel_roundtrip,
               "SELECT p_partkey, p_name, p_brand, p_size, p_retailprice "
               "FROM part ORDER BY p_partkey",
               tags=("pipeline", "parser")))


def _dataset_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content key for a parquet table: file names + sizes + mtimes.
    Keys the fixture cache so a regenerated dataset at the same path never
    silently reuses a stale fixture (which would hash-fail confusingly)."""
    import hashlib
    import os

    target = os.path.join(sf_dir, f"{table}.parquet")
    parts = []
    if os.path.isdir(target):
        # deterministic traversal + relative paths: os.walk's directory
        # order is filesystem-dependent, and bare filenames collide across
        # hive partition subdirectories
        for root, dirs, files in os.walk(target):
            dirs.sort()
            for fn in sorted(files):
                full = os.path.join(root, fn)
                st = os.stat(full)
                rel = os.path.relpath(full, target)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(target):
        st = os.stat(target)
        parts.append(f"{table}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _archive_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset CONTENT, not just path) a mongodump
    --archive fixture from the customer table.  Per-document BSON encoding
    runs ON EXECUTORS (pandas UDF); the driver STREAMS the encoded docs to
    disk via toLocalIterator + write_archive_stream with an incremental
    CRC, holding one partition of compact BSON bytes at a time — never the
    full table — so the assembly step scales to collections larger than
    driver memory and the gate's measured cost is the distributed READER."""
    import os
    import tempfile

    from ..sources.mongo_archive import (parse_archive, serialize_archive,
                                         write_archive_stream)

    tag = (sf_dir.strip("/").replace("/", "_") + "_"
           + _dataset_fingerprint(sf_dir, "customer"))
    path = os.path.join(tempfile.gettempdir(),
                        f"rs_gate_archive_{tag}", "dump.archive")
    if os.path.exists(path):
        return path

    @F.pandas_udf("binary")
    def enc(custkey: pd.Series, name: pd.Series, seg: pd.Series,
            bal: pd.Series) -> pd.Series:
        from replibyte_spark.sources.mongo_archive import encode_document
        return pd.Series([
            encode_document({"_id": int(k), "name": n,
                             "contact": {"segment": s, "balance": float(b)}})
            for k, n, s, b in zip(custkey, name, seg, bal)])

    cust = load_table(spark, sf_dir, "customer")
    docs = (cust.orderBy("c_custkey")
            .select(enc("c_custkey", "c_name", "c_mktsegment",
                        "c_acctbal").alias("bson")))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    write_archive_stream(tmp, {"customers": (
        r.bson for r in docs.toLocalIterator(prefetchPartitions=True))},
        db="tpch")
    # parse→serialize identity check, bounded: skipped above 32 MB where
    # re-reading the file into driver memory would defeat the streaming
    if os.path.getsize(tmp) <= 32 * 1024 * 1024:
        with open(tmp, "rb") as fh:
            archive = fh.read()
        assert serialize_archive(parse_archive(archive)) == archive
    os.replace(tmp, path)
    return path


def archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 completion: customers rendered as nested Mongo documents inside a
    real mongodump --archive byte stream (magic, BSON blocks, CRC64
    footers), parsed back by the distributed archive reader and flattened.
    Byte-level parse→serialize identity is asserted at fixture build; the
    oracle reads the table directly, so any codec loss hash-fails."""
    from ..sources.mongo_archive import read_mongo_archive

    path = _archive_fixture(spark, sf_dir)
    back = read_mongo_archive(spark, path)["customers"]
    return back.select(
        F.col("_id").cast("int").alias("c_custkey"),
        F.col("name").alias("c_name"),
        F.col("contact.segment").alias("c_mktsegment"),
        F.col("contact.balance").alias("c_acctbal"),
    ).orderBy("c_custkey")


register(Query("archive_roundtrip", archive_roundtrip,
               "SELECT c_custkey, c_name, c_mktsegment, c_acctbal "
               "FROM customer ORDER BY c_custkey",
               tags=("pipeline", "mongo")))


def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → write to an embedded Derby database over JDBC → read back
    over JDBC.  Actually executes `.save()`/`.load()` (S1/K1 surface;
    reference source/postgres.rs:566-617) — Derby ships on Spark's own
    classpath, so the gate needs no external server."""
    import tempfile

    from ..sources.jdbc import read_jdbc_table, write_jdbc_tables

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    uri = f"jdbc:derby:{tempfile.mkdtemp(prefix='rs_gate_jdbc_')}/db;create=true"
    nation = load_table(spark, sf_dir, "nation")
    write_jdbc_tables({"nation": nation}, uri, driver=driver)
    back = read_jdbc_table(spark, uri, "nation", driver=driver)
    return back.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        F.col("n_name").alias("n_name"),
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    ).orderBy("n_nationkey")


register(Query("jdbc_roundtrip", jdbc_roundtrip,
               "SELECT n_nationkey, n_name, n_regionkey "
               "FROM nation ORDER BY n_nationkey",
               tags=("pipeline", "jdbc")))


def jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 MongoDB-shaped destination: config-driven dump → restore to
    `jsonl://` (mongoimport-compatible JSON lines) → read the lines back.
    The oracle reads the table directly, so any sink loss hash-fails."""
    import tempfile

    from ..config import Config
    from ..plans.pipeline import DumpPipeline, RestorePipeline

    base = tempfile.mkdtemp(prefix="rs_gate_jsonl_")
    cfg = Config.from_yaml(f"""
source:
  connection_uri: parquet://{sf_dir}
  only_tables: [{{table: nation}}]
datastore:
  local_disk:
    dir: "{base}/store"
destination:
  connection_uri: jsonl://{base}/out
""")
    DumpPipeline(cfg).run(spark, "gate")
    RestorePipeline(cfg).run(spark, "gate")
    back = spark.read.json(f"{base}/out/nation")
    return back.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        F.col("n_name").alias("n_name"),
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    ).orderBy("n_nationkey")


# EXTRA since round 13 (still oracle-checked by pytest): its REGISTRY
# slot went to ann_tuned_ivf_topk — the jsonl roundtrip is the
# lowest-risk of the six gated source/sink roundtrips (sqldump, COPY,
# archive, jdbc, dump_restore, incremental all stay gated), while the
# sidecar-tuned n_probe read path has an oracle-only failure mode
# (a wrong n_probe silently changes which neighbors are exact-correct).
register(Query("jsonl_sink_roundtrip", jsonl_sink_roundtrip,
               "SELECT n_nationkey, n_name, n_regionkey "
               "FROM nation ORDER BY n_nationkey",
               tags=("pipeline", "sink")), extra=True)


# --- Docker-destination payload round-trip (K4, r13) -------------------------

def docker_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The container-restore pipe's SQL payload (sinks/docker_dest.py
    render_sql_payload — DDL + typed INSERTs, what `docker exec psql`
    executes off stdin) parsed BACK through the engine's own statement
    splitter + typed decoder: any loss in the K4 rendering shows up as a
    hash mismatch against the table read directly.  The container
    lifecycle itself (run/probe/exec/stop/rm argv contract, the mongo
    trailing-NUL strip) is locked by tests/test_docker_dest.py's dry-run
    plans — no daemon exists in CI, same as the reference's skipped
    destination tests."""
    import tempfile

    from ..sinks.docker_dest import render_sql_payload
    from ..sources.sqldump import read_sql_dump

    nation = load_table(spark, sf_dir, "nation")
    payload = render_sql_payload({"nation": nation}, dialect="postgres")
    d = tempfile.mkdtemp(prefix="rs_gate_dockerpay_")
    with open(f"{d}/payload.sql", "wb") as fh:
        fh.write(payload)
    back = read_sql_dump(spark, d)["nation"]
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").alias("n_name"),
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    ).orderBy("n_nationkey")


register(Query("docker_payload_roundtrip", docker_payload_roundtrip,
               "SELECT n_nationkey, n_name, n_regionkey "
               "FROM nation ORDER BY n_nationkey",
               tags=("pipeline", "sink")), extra=True)


def incremental_dump_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only CDC: base dump of events up to a cutoff, then an
    incremental dump against the full table (only rows past the recorded
    ts high-water mark are written), restore unions the chain — which must
    reproduce the complete table exactly."""
    import tempfile

    from ..sinks.datastore import Datastore

    events = load_table(spark, sf_dir, "events")
    store = Datastore(spark, tempfile.mkdtemp(prefix="rs_gate_incr_"))
    base = events.filter(F.col("ts") <= F.lit("2024-01-15").cast("timestamp"))
    store.dump({"events": base}, "base", watermark_cols={"events": "ts"})
    store.dump_incremental({"events": events}, "delta",
                           watermark_cols={"events": "ts"}, base="base")
    back = store.restore("delta")["events"]
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("event_id").alias("id_sum"))
            .orderBy("event_type"))


INCREMENTAL_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type ORDER BY event_type
"""

register(Query("incremental_dump_restore", incremental_dump_restore,
               INCREMENTAL_ORACLE, tags=("pipeline", "incremental")))


# --- dump manifest with skip/only semantics --------------------------------

DUMP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
SKIP_TABLES = ["events", "embeddings"]  # exercised skip: config


def resolve_tables(only: list[str] | None = None,
                   skip: list[str] | None = None) -> list[str]:
    """skip/only resolution with the reference's disjointness validation
    (/root/reference/replibyte/src/commands/dump.rs:109-128)."""
    only, skip = only or [], skip or []
    overlap = set(only) & set(skip)
    if overlap:
        raise ValueError(f"tables cannot be both skipped and kept: {sorted(overlap)}")
    base = only if only else DUMP_TABLES
    return [t for t in base if t not in skip]


def dump_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table row counts of a dump with skip=[events, embeddings].

    The skipped tables are never read — scan elimination, the Spark analogue
    of the reference pushing `--ignore-table` into mysqldump.
    """
    kept = resolve_tables(skip=SKIP_TABLES)
    parts = []
    for t in kept:
        parts.append(
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(t).alias("table_name"), "n_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("table_name")


# --- full dump → restore round-trip ---------------------------------------

def dump_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core lifecycle (`dump create` → `dump restore`,
    tasks/full_dump.rs + full_restore.rs) on the customer table: transform
    PII, write an encrypted+compressed dump, restore+decrypt, return rows.
    The oracle computes the transform directly — proving the datastore
    round-trip is lossless."""
    import tempfile

    from ..sinks.datastore import Datastore

    cust = load_table(spark, sf_dir, "customer")
    transformed = cust.selectExpr(*_spec_exprs(CUSTOMER_PII_SPEC, D.SPARK))
    root = tempfile.mkdtemp(prefix="rs_gate_store_")
    store = Datastore(spark, root)
    store.dump({"customer": transformed}, "gate",
               encrypt_columns={"customer": ["c_email"]}, encryption_key="gate-key")
    back = store.restore("gate", decrypt_columns={"customer": ["c_email"]},
                         encryption_key="gate-key")["customer"]
    return back.orderBy("c_custkey")


register(Query("dump_restore_roundtrip", dump_restore_roundtrip, _cust_oracle,
               tags=("pipeline",), bench=True))


_manifest_selects = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}"
    for t in resolve_tables(skip=SKIP_TABLES)
)
DUMP_MANIFEST_ORACLE = f"SELECT * FROM ({_manifest_selects}) ORDER BY table_name"

register(Query("dump_manifest_skip_tables", dump_manifest, DUMP_MANIFEST_ORACLE,
               tags=("pipeline",)), extra=True)


from . import register_fixture_preparer  # noqa: E402


@register_fixture_preparer
def _prepare_archive_fixture(spark: SparkSession, sf_dir: str) -> None:
    _archive_fixture(spark, sf_dir)


# ~8M rows of (long, short string) ≈ a few hundred MB serialized — the
# usual 'comfortably under executor memory' broadcast ceiling used by the
# other measured guards (retrieval df-side, salient-terms vocab)
FED_BROADCAST_ROW_LIMIT = 8_000_000


def federated_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-source federation: the customer dimension lives in a
    DATABASE (embedded Derby over JDBC — the reference's S1/S2 source
    class) and the orders fact lives in parquet, joined in one Catalyst
    plan.  This is the deployment the JDBC source exists for: dimensions
    stay in the operational store, facts in the lake, and Spark pushes
    the dimension filter down to the database (the JDBC scan carries a
    PushedFilters entry — locked in test_plan_shapes) while the fact
    scan prunes to the join/agg columns.  The oracle computes the same
    join entirely from parquet, so any JDBC round-trip loss (row, type,
    encoding) hash-fails."""
    import tempfile

    from ..sources.jdbc import read_jdbc_table, write_jdbc_tables

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    uri = (f"jdbc:derby:{tempfile.mkdtemp(prefix='rs_gate_fed_')}/db"
           f";create=true")
    cust = load_table(spark, sf_dir, "customer")
    write_jdbc_tables({"customer": cust}, uri, driver=driver)
    dim = (read_jdbc_table(spark, uri, "customer", driver=driver)
           .filter(F.col("c_acctbal") > 0)
           .select(F.col("c_custkey").cast("long").alias("o_custkey"),
                   "c_mktsegment"))
    # measured-count broadcast guard (r12, the repo-wide pattern): JDBC
    # relations carry no size statistics, so Catalyst can't veto a
    # too-big broadcast hint on its own — an operational customer table
    # is *usually* dimension-sized, but "usually" is not a contract.
    # The count is one pushed-down scalar query against the database;
    # past the limit the join falls back to shuffle (still correct, and
    # the dimension filter still pushes into the database either way).
    dim_rows = dim.count()
    dim_side = dim if dim_rows > FED_BROADCAST_ROW_LIMIT else F.broadcast(dim)
    orders = load_table(spark, sf_dir, "orders")
    return (orders.join(dim_side, on="o_custkey")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))
            .orderBy("c_mktsegment"))


register(Query("federated_join_revenue", federated_join_revenue,
               """
SELECT c_mktsegment, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal > 0
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
               # driver-visible since r12 (was EXTRA): the heterogeneous
               # JDBC-pushdown ⋈ parquet surface — took
               # transformer_registry's slot (that static listing stays
               # oracle-checked in EXTRA)
               tags=("pipeline", "jdbc", "join")))
