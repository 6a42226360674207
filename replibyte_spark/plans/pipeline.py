"""Config-driven pipeline assembly — the engine's `dump create` / `restore`.

Reference lifecycle (SURVEY.md §3.1-3.2): config → plan assembly
(commands/dump.rs:68-135: transformers per column, skip/only validation,
SourceOptions) → FullDumpTask / FullRestoreTask (tasks/full_dump.rs:40-115,
full_restore.rs:41-93).

Spark restatement: the whole dump is a handful of declarative plans —
  read (pruned by skip/only) → [subset closure] → transform projection →
  datastore write
and restore is `datastore.read → destination write`.  The reference's four
IR hops per row (bytes→tokens→cells→bytes) and its thread/process boundaries
disappear: Catalyst fuses transform+write into one stage per table.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..config import Config, SourceConfig
from ..functions.transformers import apply_transformers
from ..operators.sample import hash_percent_filter
from ..operators.subset import FkEdge, subset_closure
from ..sinks.datastore import Datastore, DumpInfo
from ..util import concurrently, released

# the schemes read and written over JDBC (a live database)
JDBC_SCHEMES = ("postgres", "postgresql", "mysql", "jdbc")


def _parse_uri(uri: str) -> tuple[str, str]:
    """`parquet:///dir`, `postgres://...`, `mysql://...`, `console://`,
    or a raw `jdbc:<subprotocol>:...` URL (embedded engines like Derby)."""
    if uri.startswith("jdbc:"):
        return "jdbc", uri
    m = re.match(r"^([a-z0-9+]+)://(.*)$", uri)
    if not m:
        return "parquet", uri  # bare path = parquet dir
    return m.group(1), m.group(2)


def load_source_tables(spark: SparkSession,
                       source: SourceConfig) -> dict[str, DataFrame]:
    """The configured source's tables, pruned by only_tables/skip.  Needs
    only the source config, so `source schema`/`stats` work without a
    datastore."""
    scheme, path = _parse_uri(source.connection_uri)
    # skip/only pushdown belongs BEFORE the readers for file-listing
    # sources: building a reader already costs real work there (JSON
    # schema inference is a full-data job; parquet opens footers), so
    # a skipped table must never get one
    only = {t.table for t in source.only_tables}
    skip = {t.table for t in source.skip}

    def _wanted(n: str) -> bool:
        return (not only or n in only) and n not in skip

    if scheme == "parquet":
        from ..catalog import load_table

        names = [f[:-8] for f in sorted(os.listdir(path))
                 if f.endswith(".parquet") and _wanted(f[:-8])]
        tables = {n: load_table(spark, path, n) for n in names}
    elif scheme in JDBC_SCHEMES:
        from ..sources.jdbc import read_jdbc_tables

        tables = read_jdbc_tables(spark, source.connection_uri,
                                  tables=sorted(only) or None,
                                  driver=source.jdbc_driver)
    elif scheme == "sqltext":
        # .sql dump files (INSERT and/or COPY statements)
        from ..sources.sqldump import read_sql_dump

        tables = read_sql_dump(spark, path)
    elif scheme in ("mongodump", "mongodb-archive"):
        # a mongodump --archive file: the reference's S3 entry point
        # (source/mongodb.rs:66-101), minus the live `mongodump` spawn —
        # the archive bytes are the interchange format either way
        from ..sources.mongo_archive import read_mongo_archive

        tables = read_mongo_archive(spark, path)
    elif scheme == "jsonl":
        # symmetric with the jsonl destination: one subdirectory per
        # table of JSON-lines part files (gzip or plain — Spark's json
        # reader decompresses by extension); schema via Spark's own
        # inference (the I2 probabilistic-schema story).  Inference is
        # a full-data job per table, which is exactly why _wanted
        # filters the listing BEFORE any reader is built.
        names = sorted(d for d in os.listdir(path)
                       if os.path.isdir(os.path.join(path, d))
                       and _wanted(d))
        tables = {n: spark.read.json(os.path.join(path, n))
                  for n in names}
    else:
        raise ValueError(f"unsupported source scheme: {scheme}")
    # the non-listing sources (jdbc/sqltext/mongodump) surface their
    # own table dicts — apply the same only/skip filter to those
    return {n: df for n, df in tables.items() if _wanted(n)}


class DumpPipeline:
    def __init__(self, config: Config, fk_edges: list[FkEdge] | None = None):
        if not config.source or not config.datastore:
            raise ValueError("dump requires source and datastore config")
        self.config = config
        self.fk_edges = fk_edges or []

    def run(self, spark: SparkSession, name: str | None = None) -> DumpInfo:
        # the sqltext reader caches its parse and the subset closure
        # checkpoints its frames; nothing reads them once the datastore
        # write has returned or raised
        with released():
            cfg = self.config
            tables = load_source_tables(spark, cfg.source)
            # ---- subset (reference: source/postgres.rs:156-165 → subset())
            ss = cfg.source.database_subset
            if ss:
                if ss.table not in tables:
                    raise ValueError(
                        f"subset table not in source: {ss.table}")
                pct = int(ss.strategy_options.get("percent", 50))
                seed = hash_percent_filter(
                    tables[ss.table], tables[ss.table].columns[0], pct)
                edges = self.fk_edges
                if not edges:
                    # live-database sources carry their own FK graph: extract
                    # it from the JDBC catalog (reference: parsed back out of
                    # the dump DDL, subset/src/postgres.rs:583-734) instead of
                    # silently subsetting with no referential closure
                    scheme, _path = _parse_uri(cfg.source.connection_uri)
                    if scheme in JDBC_SCHEMES:
                        from ..sources.jdbc import fk_edges_from_jdbc

                        edges = fk_edges_from_jdbc(
                            spark, cfg.source.connection_uri,
                            cfg.source.jdbc_driver)
                res = subset_closure(tables, edges, ss.table, seed,
                                     include_children=True,
                                     passthrough_tables=ss.passthrough_tables)
                tables = res.tables
            # ---- per-column transformers (one projection per table)
            transformed = {}
            for t, df in tables.items():
                rules = cfg.transformer_rules_for(t, with_options=True)
                transformed[t] = (apply_transformers(df, rules) if rules
                                  else df)
            # ---- datastore write (optional column-level at-rest encryption)
            store = Datastore(spark, cfg.datastore.dir)
            enc = cfg.datastore.encrypted_columns
            if enc and not cfg.encryption_key:
                raise ValueError(
                    "datastore.encrypted_columns requires encryption_key")
            return store.dump(
                transformed, name,
                compression="zstd" if cfg.source.compression else "none",
                encrypt_columns=enc,
                encryption_key=cfg.encryption_key,
            )


def read_dump(spark: SparkSession, config: Config,
              which: str = "latest") -> dict[str, DataFrame]:
    """The tables of dump `which` (a name or 'latest') in the configured
    datastore, with the configured encrypted columns decrypted."""
    return Datastore(spark, config.datastore.dir).restore(
        which,
        decrypt_columns=config.datastore.encrypted_columns,
        encryption_key=config.encryption_key,
    )


def print_inserts(tables: dict[str, DataFrame]) -> None:
    """The stdout sink (reference destination/generic_stdout.rs:98-104):
    every row as one SQL INSERT line, tables in name order, streamed
    through toLocalIterator so the driver never holds a whole table."""
    from ..sinks.sqldump_sink import to_insert_statements

    for t in sorted(tables):
        for row in to_insert_statements(tables[t], t).toLocalIterator():
            print(row[0])


class RestorePipeline:
    def __init__(self, config: Config):
        if not config.datastore or not config.destination:
            raise ValueError("restore requires datastore and destination config")
        self.config = config

    def run(self, spark: SparkSession, which: str = "latest") -> dict[str, DataFrame]:
        tables = read_dump(spark, self.config, which)
        scheme, path = _parse_uri(self.config.destination.connection_uri)
        mode = "overwrite" if self.config.destination.wipe_database else "append"
        root = path.rstrip("/")
        # the file destinations write their tables concurrently
        if scheme == "parquet":
            concurrently(spark, lambda t, df: df.write.mode(mode).parquet(
                f"{root}/{t}"), tables.items())
        elif scheme in JDBC_SCHEMES:
            from ..sources.jdbc import write_jdbc_tables

            # serial: a live database may enforce FK order between tables
            write_jdbc_tables(tables, self.config.destination.connection_uri,
                              mode, driver=self.config.destination.jdbc_driver)
        elif scheme == "sqltext":
            from ..sinks.sqldump_sink import write_sql_dump

            # honor wipe_database=false like every other destination
            concurrently(spark, lambda t, df: write_sql_dump(
                df, t, f"{root}/{t}", mode=mode), tables.items())
        elif scheme == "jsonl":
            # MongoDB-shaped destination (reference K3): JSON-lines per table
            # (mongoimport-compatible), gzip-compressed part files
            concurrently(spark, lambda t, df: (
                df.write.mode(mode).option("compression", "gzip")
                .json(f"{root}/{t}")), tables.items())
        elif scheme == "console":
            print_inserts(tables)
        elif scheme in ("docker+postgres", "docker+mysql",
                        "docker+mongodb"):
            # reference K4 (postgres_docker.rs / mysql_docker.rs /
            # mongodb_docker.rs): start a fresh container, pipe the dump
            # through the engine client, leave it running for the dev.
            # URI path: '' | '<tag>' | '<tag>:<host_port>'
            from ..sinks import docker_dest as DK

            engine = scheme.split("+", 1)[1]
            tag = port = None
            if path:
                bits = path.rstrip("/").split(":")
                tag = bits[0] or None
                if len(bits) > 1:
                    try:
                        port = int(bits[1])
                    except ValueError:
                        raise ValueError(
                            f"invalid docker destination URI "
                            f"'{self.config.destination.connection_uri}': "
                            f"expected {scheme}://[tag[:host_port]] with a "
                            f"numeric port, got '{bits[1]}'") from None
            # serial: one ordered stream into a live database (FK order)
            DK.restore_into_container(
                tables, DK.destination_for(engine, port, tag),
                dialect=engine, wipe=self.config.destination.wipe_database)
        else:
            raise ValueError(f"unsupported destination scheme: {scheme}")
        return tables
