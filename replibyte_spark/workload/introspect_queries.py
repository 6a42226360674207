"""Gate queries for introspection + datastore lifecycle (I1/I3/I4, C5/C7).

These were previously pytest-only; exposing them as gate queries puts the
retention/migration/catalog semantics under the driver's oracle check:

- retention (C5): which dumps survive keep-last is asserted end-to-end
- manifest migration (C7): a v1 `backups` manifest reads back as v2 `dumps`
- transformer registry (I3) and source schema (I1): the Spark-side catalog
  vs an INDEPENDENT source — DuckDB's own information_schema for I1, so a
  type-mapping drift between engines shows up as a gate fail.

Reference: commands/dump.rs:37-65 (list), datastore/mod.rs:62-117
(retention), migration/rename_backups_to_dumps.rs (C7),
commands/transformer.rs:61-70 (I3), commands/source.rs:10-56 (I1).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..introspect import dump_list, source_schema, transformer_list
from ..sinks.datastore import Datastore
from . import Query, register

# --- C5 + I4: retention then dump list --------------------------------------


def retention_dump_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create 3 dumps, retain keep_last=2 → the listing must show exactly
    the two newest (manifest order breaks same-second created_at ties)."""
    root = tempfile.mkdtemp(prefix="rs_gate_retain_")
    store = Datastore(spark, root)
    region = load_table(spark, sf_dir, "region")
    for name in ("dump-a", "dump-b", "dump-c"):
        store.dump({"region": region}, name)
    deleted = store.retain(keep_last=2)
    assert deleted == ["dump-a"], deleted
    return (dump_list(spark, root)
            .select("name", "n_tables", "compressed", "encrypted")
            .orderBy("name"))


RETENTION_ORACLE = """
SELECT * FROM (VALUES
  ('dump-b', CAST(1 AS INTEGER), true, false),
  ('dump-c', CAST(1 AS INTEGER), true, false)
) AS t(name, n_tables, compressed, encrypted) ORDER BY name
"""

register(Query("retention_dump_list", retention_dump_list, RETENTION_ORACLE,
               tags=("datastore", "introspect")), extra=True)


# --- combined lifecycle gate: C5 + C7 + F1 + I4 in one driver-visible row ----


def dump_lifecycle_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One gate covering the manifest lifecycle end to end: a hand-written
    v1 manifest (`backups` key) is migrated by init() (C7), two real dumps
    are written with skip-table resolution (F1), retention keep_last=2
    deletes the legacy entry (C5), and the final listing (I4) must show
    exactly the two survivors.  The retention-only variant stays in
    EXTRA (pytest-only); this row is the gated one."""
    from .pipeline import resolve_tables

    root = tempfile.mkdtemp(prefix="rs_gate_lifecycle_")
    os.makedirs(root, exist_ok=True)
    v1 = {"v": 1, "backups": [
        {"directory_name": "legacy-dump", "size": 123, "created_at": 1.0,
         "compressed": True, "encrypted": False, "tables": ["region"]},
    ]}
    with open(os.path.join(root, "metadata.json"), "w") as f:
        json.dump(v1, f)
    store = Datastore(spark, root)
    store.init()
    assert store._read_manifest()["v"] == 2, "v1 manifest must migrate"
    from .pipeline import DUMP_TABLES
    kept = resolve_tables(skip=[t for t in DUMP_TABLES if t != "region"])
    assert kept == ["region"], kept
    tables = {t: load_table(spark, sf_dir, t) for t in kept}
    store.dump(tables, "dump-a")
    store.dump(tables, "dump-b")
    deleted = store.retain(keep_last=2)
    assert deleted == ["legacy-dump"], deleted
    return (dump_list(spark, root)
            .select("name", "n_tables", "compressed", "encrypted")
            .orderBy("name"))


LIFECYCLE_ORACLE = """
SELECT * FROM (VALUES
  ('dump-a', CAST(1 AS INTEGER), true, false),
  ('dump-b', CAST(1 AS INTEGER), true, false)
) AS t(name, n_tables, compressed, encrypted) ORDER BY name
"""

register(Query("dump_lifecycle_list", dump_lifecycle_list, LIFECYCLE_ORACLE,
               tags=("datastore", "introspect")))


# --- I3: transformer registry -------------------------------------------------


def transformer_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transformer_list(spark).orderBy("id")


def _registry_oracle() -> str:
    from .. import dialect as D
    from ..introspect import _DESCRIPTIONS, NON_SQL_TRANSFORMERS
    from ..functions.transformers import TRANSFORMERS

    # D.q: a description containing an apostrophe must render as a valid
    # SQL literal, not a parse error
    rows = ",\n  ".join(
        f"({D.q(name)}, {D.q(_DESCRIPTIONS.get(name, ''))})"
        for name in sorted(set(TRANSFORMERS) | set(NON_SQL_TRANSFORMERS)))
    return (f"SELECT * FROM (VALUES\n  {rows}\n) AS t(id, description) "
            f"ORDER BY id")


# EXTRA since r12: a static 13-row listing is the lowest-risk gate in the
# registry (no scan, no shuffle, no state; still oracle-checked by
# pytest); its driver slot went to federated_join_revenue — the
# JDBC-pushdown ⋈ parquet surface previously only covered in EXTRA.
register(Query("transformer_registry", transformer_registry,
               _registry_oracle(), tags=("introspect",)), extra=True)


# --- I1: source schema vs DuckDB's information_schema -------------------------

_SCHEMA_TABLES = ["customer", "lineitem", "nation", "orders", "part",
                  "region", "supplier"]

# DuckDB type name → Spark simpleString (the scalar types the fixture uses).
# DuckDB TIMESTAMP is timezone-naive = Spark's TIMESTAMP_NTZ (Spark 4 reads
# parquet isAdjustedToUTC=false as NTZ).
_DUCK_TO_SPARK_TYPE = {
    "INTEGER": "int", "BIGINT": "bigint", "VARCHAR": "string",
    "DOUBLE": "double", "TIMESTAMP": "timestamp_ntz", "DATE": "date",
}


def source_schema_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (source_schema(spark, sf_dir, _SCHEMA_TABLES)
            .orderBy("table_name", "ordinal"))


def _schema_oracle() -> str:
    type_case = " ".join(
        f"WHEN '{d}' THEN '{s}'" for d, s in _DUCK_TO_SPARK_TYPE.items())
    tables = ", ".join(f"'{t}'" for t in _SCHEMA_TABLES)
    return f"""
SELECT table_name, column_name,
       CAST(ordinal_position - 1 AS INTEGER) AS ordinal,
       CASE data_type {type_case} ELSE lower(data_type) END AS data_type
FROM information_schema.columns
WHERE table_name IN ({tables})
ORDER BY table_name, ordinal
"""


# EXTRA since r12: a metadata listing vs information_schema (I1 parity
# stays pytest-oracle-checked); its driver slot went to
# bucketed_join_revenue — the write-once-shuffle-never layout proof,
# the only exchange-free-join surface in the registry.
register(Query("source_schema_listing", source_schema_listing,
               _schema_oracle(), tags=("introspect",)), extra=True)


# --- distributed ANALYZE (round 11: SS2 made real) ---------------------------
# Per-column planning statistics (row/null/distinct counts, typed min/max)
# for a representative table trio, each table ONE aggregation pass.  The
# oracle recomputes every statistic exactly in DuckDB; the HLL approx
# variant (the 100 TB path) is tolerance-asserted in tests.

STATS_TABLES = ("customer", "orders", "documents")


def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..introspect import table_stats

    out = None
    for t in STATS_TABLES:
        df = load_table(spark, sf_dir, t)
        part = table_stats(df, t)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("table_name", "column_name")


def _table_stats_oracle() -> str:
    import duckdb

    from ..catalog import DEFAULT_SF_DIR  # noqa: F401  (schema via test sf)
    from ..introspect import table_stats_oracle_sql

    # column lists must match Spark's parquet schema; derive them from the
    # fixture footer once (driver + tests both pin sf dirs with identical
    # schemas across scale factors)
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    pieces = []
    _DUCK_TO_SPARK = {"BIGINT": "bigint", "INTEGER": "int",
                      "DOUBLE": "double", "FLOAT": "float",
                      "VARCHAR": "string",
                      # tz-less parquet timestamps surface as NTZ in Spark
                      "TIMESTAMP": "timestamp_ntz"}
    for t in STATS_TABLES:
        cols = []
        for name, dtype, *_ in con.execute(
                f"DESCRIBE SELECT * FROM '{sf}/{t}.parquet'").fetchall():
            cols.append((name, _DUCK_TO_SPARK.get(dtype, dtype.lower())))
        pieces.append(table_stats_oracle_sql(t, cols))
    return (" UNION ALL ".join(pieces)
            + " ORDER BY table_name, column_name")


# the BUILDER is registered (not its result): it DESCRIBEs fixture parquet
# and imports duckdb, so it must run at gate/test time, never module import
# (Query.oracle_text resolves it lazily; r12, ADVICE fix)
register(Query("table_stats_profile", table_stats_profile,
               _table_stats_oracle, tags=("introspect",)), extra=True)
