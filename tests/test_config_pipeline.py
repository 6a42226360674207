"""Config parsing + config-driven dump/restore pipeline tests (reference
conf.yaml surface, config.rs:17-296; examples/*.yaml permutations)."""

from __future__ import annotations

import os

import pytest

from replibyte_spark.config import Config
from replibyte_spark.introspect import dump_list, source_schema, transformer_list
from replibyte_spark.operators.subset import FIXTURE_FK_EDGES
from replibyte_spark.plans.pipeline import DumpPipeline, RestorePipeline

YAML = """
encryption_key: $RS_TEST_KEY
source:
  connection_uri: parquet://{sf_dir}
  compression: true
  transformers:
    - database: public
      table: customer
      columns:
        - name: c_name
          transformer_name: first-name
        - name: c_mktsegment
          transformer_name: redacted
  skip:
    - database: public
      table: events
    - database: public
      table: embeddings
    - database: public
      table: documents
datastore:
  local_disk:
    dir: "{store}"
destination:
  connection_uri: parquet://{out}
"""


def test_env_substitution_and_shape(sf_dir, tmp_path):
    os.environ["RS_TEST_KEY"] = "sekrit"
    cfg = Config.from_yaml(YAML.format(sf_dir=sf_dir, store=tmp_path / "s",
                                       out=tmp_path / "o"))
    assert cfg.encryption_key == "sekrit"
    assert cfg.source.connection_uri == f"parquet://{sf_dir}"
    assert cfg.transformer_rules_for("customer") == {
        "c_name": "first-name", "c_mktsegment": "redacted"}
    assert cfg.transformer_rules_for("orders") == {}
    assert [t.table for t in cfg.source.skip] == ["events", "embeddings", "documents"]


def test_missing_env_raises():
    os.environ.pop("RS_MISSING", None)
    with pytest.raises(KeyError):
        Config.from_yaml("source:\n  connection_uri: $RS_MISSING\n")


def test_skip_only_conflict_rejected(sf_dir):
    bad = f"""
source:
  connection_uri: parquet://{sf_dir}
  skip: [{{table: orders}}]
  only_tables: [{{table: orders}}]
"""
    with pytest.raises(ValueError, match="skip and only"):
        Config.from_yaml(bad)


def test_dump_restore_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The reference's main flow: conf.yaml → dump create → restore."""
    os.environ["RS_TEST_KEY"] = "sekrit"
    cfg = Config.from_yaml(YAML.format(sf_dir=sf_dir, store=tmp_path / "store",
                                       out=tmp_path / "out"))
    info = DumpPipeline(cfg, FIXTURE_FK_EDGES).run(spark, "t1")
    assert "events" not in info.tables and "customer" in info.tables
    restored = RestorePipeline(cfg).run(spark, "latest")
    # transformer applied in the dump: every c_name is from the fake list
    from replibyte_spark.functions.transformers import _FIRST_NAMES

    names = {r.c_name for r in restored["customer"].collect()}
    assert names <= set(_FIRST_NAMES)
    # restore materialized parquet per table at the destination
    assert (tmp_path / "out" / "customer").exists()
    # manifest shows the dump
    dumps = dump_list(spark, str(tmp_path / "store")).collect()
    assert [d.name for d in dumps] == ["t1"] and dumps[0].compressed


def test_dump_with_subset(spark, sf_dir, tmp_path):
    cfg_yaml = f"""
source:
  connection_uri: parquet://{sf_dir}
  skip:
    - {{table: events}}
    - {{table: embeddings}}
    - {{table: documents}}
  database_subset:
    database: public
    table: orders
    strategy_name: random
    strategy_options: {{percent: 20}}
    passthrough_tables: [part]
datastore:
  local_disk:
    dir: "{tmp_path / 'store'}"
"""
    cfg = Config.from_yaml(cfg_yaml)
    info = DumpPipeline(cfg, FIXTURE_FK_EDGES).run(spark, "sub")
    from replibyte_spark.sinks.datastore import Datastore

    store = Datastore(spark, str(tmp_path / "store"))
    back = store.restore("sub")
    from replibyte_spark.catalog import load_table

    n_orders_src = load_table(spark, sf_dir, "orders").count()
    assert 0 < back["orders"].count() < n_orders_src
    assert back["part"].count() == load_table(spark, sf_dir, "part").count()


def test_jsonl_destination(spark, sf_dir, tmp_path):
    """K3: JSON-lines destination (mongoimport-shaped output)."""
    cfg = Config.from_yaml(f"""
source:
  connection_uri: parquet://{sf_dir}
  only_tables: [{{table: nation}}]
datastore:
  local_disk:
    dir: "{tmp_path / 'store'}"
destination:
  connection_uri: jsonl://{tmp_path / 'out'}
""")
    DumpPipeline(cfg).run(spark, "j1")
    RestorePipeline(cfg).run(spark, "j1")
    back = spark.read.json(str(tmp_path / "out" / "nation"))
    from replibyte_spark.catalog import load_table

    nation = load_table(spark, sf_dir, "nation")
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)


def test_encrypted_pipeline_roundtrip(spark, sf_dir, tmp_path):
    """encryption_key + datastore.encrypted_columns: dump stores ciphertext,
    config-driven restore decrypts transparently."""
    cfg_yaml = f"""
encryption_key: pipeline-secret
source:
  connection_uri: parquet://{sf_dir}
  only_tables: [{{table: nation}}]
datastore:
  local_disk:
    dir: "{tmp_path / 'store'}"
  encrypted_columns:
    nation: [n_name]
destination:
  connection_uri: parquet://{tmp_path / 'out'}
"""
    cfg = Config.from_yaml(cfg_yaml)
    DumpPipeline(cfg).run(spark, "e1")
    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.datastore import Datastore

    nation = load_table(spark, sf_dir, "nation")
    raw = Datastore(spark, str(tmp_path / "store")).restore("e1")["nation"]
    assert {r.n_name for r in raw.collect()} != {r.n_name for r in nation.collect()}
    restored = RestorePipeline(cfg).run(spark, "e1")["nation"]
    assert sorted(map(tuple, restored.collect())) == sorted(map(tuple, nation.collect()))


def test_introspection(spark, sf_dir):
    schema = source_schema(spark, sf_dir, ["nation", "region"])
    rows = {(r.table_name, r.column_name) for r in schema.collect()}
    assert ("nation", "n_nationkey") in rows and ("region", "r_name") in rows
    tl = transformer_list(spark)
    ids = {r.id for r in tl.collect()}
    assert {"email", "redacted", "transient", "random-date"} <= ids


def test_mongodump_archive_source_pipeline(spark, tmp_path):
    """Config-driven end-to-end from a mongodump --archive file: archive →
    nested-doc transform rules → datastore dump → restore to jsonl
    (the reference's full MongoDB lifecycle, source/mongodb.rs +
    destination/mongodb.rs, minus live mongod)."""
    from replibyte_spark.sources.mongo_archive import build_archive

    archive = build_archive({
        "users": [{"_id": i, "name": f"person-{i}", "score": i * 1.5}
                  for i in range(30)],
    }, db="app")
    src = tmp_path / "dump.archive"
    src.write_bytes(archive)
    cfg = Config.from_yaml(f"""
source:
  connection_uri: mongodump://{src}
  transformers:
    - database: app
      table: users
      columns:
        - name: name
          transformer_name: first-name
datastore:
  local_disk:
    dir: "{tmp_path / 'store'}"
destination:
  connection_uri: jsonl://{tmp_path / 'out'}
""")
    DumpPipeline(cfg).run(spark, "m1")
    tables = RestorePipeline(cfg).run(spark, "m1")
    back = spark.read.json(str(tmp_path / "out" / "users"))
    assert back.count() == 30
    names = {r.name for r in back.select("name").collect()}
    assert not any(n.startswith("person-") for n in names)  # transformed
    scores = {r._id: r.score for r in back.collect()}
    assert scores[4] == 6.0  # untouched columns survive exactly


def test_custom_wasm_transformer_in_config_pipeline(spark, sf_dir, tmp_path):
    """The reference's WASM extension point end-to-end: conf.yaml names a
    .wasm module for a column (examples/wasm/replibyte.yaml shape); the dump
    runs it per value under WASI stdio semantics."""
    from test_wasm import build_reverse_wasm

    wasm_path = tmp_path / "reverse.wasm"
    wasm_path.write_bytes(build_reverse_wasm())
    cfg = Config.from_yaml(f"""
source:
  connection_uri: parquet://{sf_dir}
  only_tables: [{{table: nation}}]
  transformers:
    - database: public
      table: nation
      columns:
        - name: n_name
          transformer_name: custom-wasm
          transformer_options:
            path: "{wasm_path}"
datastore:
  local_disk:
    dir: "{tmp_path / 'store'}"
""")
    DumpPipeline(cfg).run(spark, "w1")
    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.datastore import Datastore

    back = Datastore(spark, str(tmp_path / "store")).restore("w1")["nation"]
    got = {r.n_nationkey: r.n_name for r in back.collect()}
    src = {r.n_nationkey: r.n_name
           for r in load_table(spark, sf_dir, "nation").collect()}
    assert got == {k: v[::-1] for k, v in src.items()}


def test_transformer_registry_lists_custom_wasm(spark):
    ids = {r.id for r in transformer_list(spark).collect()}
    assert "custom-wasm" in ids


def test_jsonl_source_round_trip(spark, sf_dir, tmp_path):
    """jsonl:// works as a SOURCE too (symmetric with the K3-shaped sink):
    dump parquet → restore to jsonl → re-dump FROM the jsonl directory —
    values must survive the full loop (modulo JSON's type relaxation:
    Spark re-infers longs/doubles/strings)."""
    from replibyte_spark.config import Config
    from replibyte_spark.plans.pipeline import DumpPipeline, RestorePipeline

    jdir = tmp_path / "jout"
    cfg1 = Config.from_dict({
        "source": {"connection_uri": f"parquet://{sf_dir}",
                   "only_tables": [{"table": "region"}]},
        "datastore": {"dir": str(tmp_path / "s1")},
        "destination": {"connection_uri": f"jsonl://{jdir}",
                        "wipe_database": True},
    })
    DumpPipeline(cfg1).run(spark, "a")
    RestorePipeline(cfg1).run(spark, "a")

    cfg2 = Config.from_dict({
        "source": {"connection_uri": f"jsonl://{jdir}"},
        "datastore": {"dir": str(tmp_path / "s2")},
    })
    DumpPipeline(cfg2).run(spark, "b")
    from replibyte_spark.sinks.datastore import Datastore

    back = Datastore(spark, str(tmp_path / "s2")).restore("b")
    got = sorted((int(r.r_regionkey), r.r_name) for r in
                 back["region"].collect())
    from replibyte_spark.catalog import load_table

    want = sorted((int(r.r_regionkey), r.r_name) for r in
                  load_table(spark, sf_dir, "region").collect())
    assert got == want


def test_dump_run_releases_only_what_it_persisted(spark, sf_dir, tmp_path):
    """Two sqltext dumps, each followed by a sqltext restore, leave the
    persistent-RDD registry where it started and the cache manager empty:
    the reader's cached parse is released once each write returns, while
    an RDD persisted before the runs stays pinned."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.sqldump_sink import write_sql_dump

    write_sql_dump(load_table(spark, sf_dir, "nation"), "nation",
                   str(tmp_path / "sql"))
    cfg = Config.from_dict({
        "source": {"connection_uri": f"sqltext://{tmp_path / 'sql'}"},
        "datastore": {"dir": str(tmp_path / "store")},
        "destination": {"connection_uri":
                        f"sqltext://{tmp_path / 'restored'}"},
    })
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()      # frames cached by earlier tests
    pinned = spark.sparkContext.parallelize(range(3)).cache()
    pinned.count()
    try:
        start = set(jsc.getPersistentRDDs().keys())
        assert pinned.id() in start
        assert cache_manager.isEmpty()
        for name in ("a", "b"):
            info = DumpPipeline(cfg).run(spark, name)
            assert info.tables == ["nation"]
            assert set(jsc.getPersistentRDDs().keys()) == start, name
            assert cache_manager.isEmpty(), name
            assert list(RestorePipeline(cfg).run(spark)) == ["nation"]
            assert set(jsc.getPersistentRDDs().keys()) == start, name
            assert cache_manager.isEmpty(), name
    finally:
        pinned.unpersist()


def test_pipeline_jobs_stay_in_caller_job_group(spark, sf_dir, tmp_path):
    """A 3-table sqltext dump and restore under the caller's job group:
    every job they start, on whichever thread, belongs to that group, and
    no thread loses the session's tags."""
    import warnings

    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.sqldump_sink import to_insert_statements

    names = ["region", "nation", "supplier"]
    stmts = [to_insert_statements(load_table(spark, sf_dir, t), t)
             for t in names]
    stmts[0].unionByName(stmts[1]).unionByName(stmts[2]) \
        .write.text(str(tmp_path / "sql"))
    cfg = Config.from_dict({
        "source": {"connection_uri": f"sqltext://{tmp_path / 'sql'}"},
        "datastore": {"dir": str(tmp_path / "store")},
        "destination": {"connection_uri":
                        f"sqltext://{tmp_path / 'restored'}"},
    })
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def last_job(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(tracker.getJobIdsForGroup(group))

    try:
        lo = last_job("attribution-before")
        sc.setJobGroup("g", "dump and restore")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            DumpPipeline(cfg).run(spark, "a")
            restored = RestorePipeline(cfg).run(spark, "a")
        hi = last_job("attribution-after")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sorted(restored) == sorted(names)
    in_group = set(tracker.getJobIdsForGroup("g"))
    assert in_group and set(range(lo + 1, hi)) == in_group
    assert not [w for w in caught
                if "Tags will not be inherited" in str(w.message)]
