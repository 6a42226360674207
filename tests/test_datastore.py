"""Datastore lifecycle tests — mirrors the reference's tempdir suite
(/root/reference/replibyte/src/datastore/local_disk.rs:253-643: write/read
round-trip, index file, delete by name / keep-last / older-than, migration
from a legacy `backups` manifest)."""

from __future__ import annotations

import json
import os

import pytest

from replibyte_spark.catalog import load_table
from replibyte_spark.sinks.datastore import Datastore


@pytest.fixture()
def store(spark, tmp_path):
    return Datastore(spark, str(tmp_path / "store"))


def test_dump_restore_roundtrip(spark, sf_dir, store):
    nation = load_table(spark, sf_dir, "nation")
    info = store.dump({"nation": nation}, "d1")
    assert info.compressed and not info.encrypted and info.size > 0
    back = store.restore("d1")["nation"]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_encrypted_roundtrip(spark, sf_dir, store):
    """AES-GCM column encryption: ciphertext differs, decrypt restores."""
    nation = load_table(spark, sf_dir, "nation")
    store.dump({"nation": nation}, "enc",
               encrypt_columns={"nation": ["n_name"]}, encryption_key="secret")
    raw = store.restore("enc")["nation"]
    assert set(r.n_name for r in raw.collect()) != set(r.n_name for r in nation.collect())
    dec = store.restore("enc", decrypt_columns={"nation": ["n_name"]},
                        encryption_key="secret")["nation"]
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, nation.collect()))


def test_latest_and_by_name(spark, sf_dir, store):
    region = load_table(spark, sf_dir, "region")
    store.dump({"region": region}, "a")
    store.dump({"region": region}, "b")
    assert store.find_dump("latest").directory_name == "b"
    assert store.find_dump("a").directory_name == "a"
    with pytest.raises(LookupError):
        store.find_dump("nope")


def test_retention_keep_last(spark, sf_dir, store):
    region = load_table(spark, sf_dir, "region")
    for n in ["a", "b", "c"]:
        store.dump({"region": region}, n)
    deleted = store.retain(keep_last=1)
    assert deleted == ["a", "b"]
    assert [d.directory_name for d in store.list_dumps()] == ["c"]
    assert not os.path.exists(os.path.join(store.root, "a"))


def test_retention_older_than(spark, sf_dir, store):
    region = load_table(spark, sf_dir, "region")
    store.dump({"region": region}, "old")
    store.dump({"region": region}, "new")
    m = store._read_manifest()
    for d in m["dumps"]:
        if d["directory_name"] == "old":
            d["created_at"] -= 30 * 86400
    store._write_manifest(m)
    assert store.retain(older_than_days=14) == ["old"]


def test_manifest_migration_from_legacy_backups(spark, store):
    """v1 `backups` key is renamed to `dumps` and version stamped
    (migration/rename_backups_to_dumps.rs semantics)."""
    os.makedirs(store.root, exist_ok=True)
    legacy = {"v": 1, "backups": [{
        "directory_name": "x", "size": 1, "created_at": 1.0,
        "compressed": True, "encrypted": False, "tables": [],
    }]}
    with open(store._manifest_path, "w") as f:
        json.dump(legacy, f)
    store.init()
    m = store._read_manifest()
    assert m["v"] == 2 and "backups" not in m
    assert [d["directory_name"] for d in m["dumps"]] == ["x"]


def test_partitioned_dump_prunes(spark, sf_dir, store):
    """Hive-partitioned dump: restore reads see partition directories and a
    status filter prunes the scan to matching partitions."""
    orders = load_table(spark, sf_dir, "orders")
    store.dump({"orders": orders}, "p1", partition_by={"orders": ["o_orderstatus"]})
    base = os.path.join(store.root, "p1", "orders")
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(base))
    back = store.restore("p1")["orders"]
    assert back.count() == orders.count()
    plan = (back.filter("o_orderstatus = 'O'")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_wrong_key_fails_or_garbles(spark, sf_dir, store):
    nation = load_table(spark, sf_dir, "nation")
    store.dump({"nation": nation}, "enc",
               encrypt_columns={"nation": ["n_name"]}, encryption_key="right")
    from py4j.protocol import Py4JJavaError

    try:
        out = store.restore("enc", decrypt_columns={"nation": ["n_name"]},
                            encryption_key="wrong")["nation"].collect()
        names = {r.n_name for r in out}
        assert names != {r.n_name for r in nation.collect()}
    except Exception:
        pass  # GCM auth failure raising is also acceptable


def test_datastore_with_scheme_qualified_root(spark, sf_dir, tmp_path):
    """The whole lifecycle through a URI root: manifest + data + retention
    all resolve via the Hadoop FileSystem API — the same single code path an
    s3a:// or gs:// root takes when its connector jar is on the classpath
    (reference s3.rs:213-353)."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.datastore import Datastore

    root = f"file://{tmp_path}/uri-store"
    store = Datastore(spark, root)
    region = load_table(spark, sf_dir, "region")
    for name in ("u1", "u2"):
        info = store.dump({"region": region}, name)
        assert info.size > 0          # via FS getContentSummary, not os.walk
    assert [d.directory_name for d in store.list_dumps()] == ["u1", "u2"]

    back = store.restore("u1")["region"]
    assert back.count() == region.count()

    deleted = store.retain(keep_last=1)
    assert deleted == ["u1"]
    assert [d.directory_name for d in store.list_dumps()] == ["u2"]
    # the dump directory itself is gone from the filesystem
    assert not (tmp_path / "uri-store" / "u1").exists()
    assert (tmp_path / "uri-store" / "metadata.json").exists()


def test_encrypted_non_string_column_type_restored(spark, sf_dir, tmp_path):
    """Encrypting a DOUBLE column must round-trip as DOUBLE (the manifest
    records pre-encryption types), and keys containing quotes must work
    (column-arg AES, not SQL-text interpolation)."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.datastore import Datastore

    store = Datastore(spark, str(tmp_path / "enc-types"))
    cust = load_table(spark, sf_dir, "customer")
    key = "it's a quoted'key"
    store.dump({"customer": cust}, "e1",
               encrypt_columns={"customer": ["c_acctbal", "c_name"]},
               encryption_key=key)
    stored = store.restore("e1")["customer"]  # no decrypt: ciphertext strings
    assert dict(stored.dtypes)["c_acctbal"] == "string"
    back = store.restore("e1",
                         decrypt_columns={"customer": ["c_acctbal", "c_name"]},
                         encryption_key=key)["customer"]
    assert dict(back.dtypes)["c_acctbal"] == "double"
    got = {r.c_custkey: (r.c_acctbal, r.c_name) for r in back.collect()}
    want = {r.c_custkey: (r.c_acctbal, r.c_name) for r in cust.collect()}
    assert got == want


def test_incremental_dump_chain(spark, sf_dir, tmp_path):
    """Two increments: each delta writes only new rows; an empty delta
    inherits the base watermark; restoring the head unions the chain back
    to the full table."""
    from pyspark.sql import functions as F

    from replibyte_spark.catalog import load_table
    from replibyte_spark.sinks.datastore import Datastore

    ev = load_table(spark, sf_dir, "events")
    cut1 = F.lit("2024-01-10").cast("timestamp")
    cut2 = F.lit("2024-01-20").cast("timestamp")
    store = Datastore(spark, str(tmp_path / "incr"))

    store.dump({"events": ev.filter(F.col("ts") <= cut1)}, "d0",
               watermark_cols={"events": "ts"})
    i1 = store.dump_incremental({"events": ev.filter(F.col("ts") <= cut2)},
                                "d1", watermark_cols={"events": "ts"},
                                base="d0")
    i2 = store.dump_incremental({"events": ev}, "d2",
                                watermark_cols={"events": "ts"}, base="d1")
    assert i1.parent == "d0" and i2.parent == "d1"

    n_total = ev.count()
    n_base = ev.filter(F.col("ts") <= cut1).count()
    n_mid = ev.filter(F.col("ts") <= cut2).count()
    # deltas hold only the new slices
    assert spark.read.parquet(str(tmp_path / "incr" / "d1" / "events")) \
        .count() == n_mid - n_base
    assert store.restore("d2")["events"].count() == n_total
    assert store.restore("d1")["events"].count() == n_mid

    # empty delta: nothing new, watermark inherited, chain still restores
    i3 = store.dump_incremental({"events": ev}, "d3",
                                watermark_cols={"events": "ts"}, base="d2")
    assert i3.watermarks["events"] == i2.watermarks["events"]
    assert store.restore("d3")["events"].count() == n_total


def test_concurrent_dump_restore_roundtrip(spark, sf_dir, tmp_path):
    """The table writes of a dump and the table reads of its restore run
    concurrently; every table still comes back as the same row multiset."""
    from collections import Counter

    from replibyte_spark.catalog import load_tables

    tables = load_tables(spark, sf_dir, ["region", "nation", "supplier"])
    store = Datastore(spark, str(tmp_path / "conc"))
    info = store.dump(tables, "c1")
    assert info.tables == ["nation", "region", "supplier"]
    assert store.find_dump("c1").tables == info.tables
    back = store.restore("c1")
    for t, df in tables.items():
        assert Counter(map(tuple, back[t].collect())) == \
            Counter(map(tuple, df.collect())), t


def test_missing_encrypt_column_fails_before_any_write(spark, sf_dir, store):
    """An encrypted column absent from its table raises ValueError naming
    both, before the store is touched: a fresh root is not created, and
    an existing store gets no table directory and no manifest change."""
    tables = {"region": load_table(spark, sf_dir, "region"),
              "nation": load_table(spark, sf_dir, "nation")}
    bad = {"encrypt_columns": {"nation": ["n_name", "n_nope"]},
           "encryption_key": "secret"}
    with pytest.raises(ValueError, match="nation.*n_nope"):
        store.dump(tables, "bad", **bad)
    assert not os.path.exists(store.root)
    store.dump({"region": tables["region"]}, "ok")
    manifest = os.path.join(store.root, "metadata.json")
    with open(manifest) as f:
        before = f.read()
    with pytest.raises(ValueError, match="nation.*n_nope"):
        store.dump(tables, "bad", **bad)
    assert not os.path.exists(os.path.join(store.root, "bad"))
    with open(manifest) as f:
        assert f.read() == before


def test_incremental_full_redump_does_not_duplicate_on_restore(
        spark, sf_dir, tmp_path):
    """A table re-dumped IN FULL inside an incremental (no base watermark)
    must SHADOW the parent's copy on restore, not union with it — the old
    unconditional chain union returned every row twice."""
    ds = Datastore(spark, str(tmp_path / "inc_full"))
    nation = load_table(spark, sf_dir, "nation")
    ds.dump({"nation": nation}, "base")            # no watermark recorded
    info = ds.dump_incremental({"nation": nation}, "inc",
                               watermark_cols={"nation": "n_nationkey"})
    assert info.full_tables == ["nation"]
    back = ds.restore("latest")["nation"]
    assert back.count() == nation.count()
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, nation.collect()))


def test_retention_protects_incremental_parents(spark, sf_dir, tmp_path):
    """keep_last must not delete an ancestor of a retained incremental —
    that would permanently break restore() of the kept dump."""
    ds = Datastore(spark, str(tmp_path / "inc_retain"))
    region = load_table(spark, sf_dir, "region")
    ds.dump({"region": region}, "base",
            watermark_cols={"region": "r_regionkey"})
    ds.dump_incremental({"region": region}, "inc1",
                        watermark_cols={"region": "r_regionkey"})
    deleted = ds.retain(keep_last=1)
    assert deleted == []                           # base is inc1's parent
    names = [d.directory_name for d in ds.list_dumps()]
    assert names == ["base", "inc1"]
    ds.restore("inc1")                             # chain intact
    # an unrelated standalone dump still ages out
    ds.dump({"region": region}, "solo")
    assert ds.retain(keep_last=1) == ["base", "inc1"]


def test_encryption_key_normalized_by_bytes_not_chars(spark, sf_dir,
                                                      tmp_path):
    """A non-ASCII key (>32 UTF-8 bytes at 32 chars) must round-trip:
    the old char-level padding produced a 34-byte key aes_encrypt
    rejects at execution time."""
    ds = Datastore(spark, str(tmp_path / "enc_utf8"))
    nation = load_table(spark, sf_dir, "nation")
    key = "pässwörd-ünïcode-κλειδί"
    ds.dump({"nation": nation}, "enc",
            encrypt_columns={"nation": ["n_name"]}, encryption_key=key)
    dec = ds.restore("enc", decrypt_columns={"nation": ["n_name"]},
                     encryption_key=key)["nation"]
    assert sorted(map(tuple, dec.collect())) == \
        sorted(map(tuple, nation.collect()))


def test_read_side_calls_do_not_rewrite_current_manifest(spark, sf_dir,
                                                         tmp_path):
    """list_dumps()/restore() on an up-to-date manifest must not rewrite
    it — concurrent pure readers would race each other's rename cycles."""
    ds = Datastore(spark, str(tmp_path / "ro"))
    region = load_table(spark, sf_dir, "region")
    ds.dump({"region": region}, "a")
    path = os.path.join(ds.root, "metadata.json")
    before = os.stat(path).st_mtime_ns
    ds.list_dumps()
    ds.find_dump("a")
    assert os.stat(path).st_mtime_ns == before


def test_corrupt_manifest_raises_not_served_from_bak(spark, sf_dir,
                                                     tmp_path):
    """The .bak fallback exists ONLY for the mid-swap rename window (final
    file absent).  A manifest that EXISTS but is corrupt must raise — and
    a genuinely-missing final with a valid .bak is served with a warning,
    never silently."""
    import warnings

    ds = Datastore(spark, str(tmp_path / "fb"))
    region = load_table(spark, sf_dir, "region")
    ds.dump({"region": region}, "a")
    path = os.path.join(ds.root, "metadata.json")
    good = open(path, "rb").read()
    # simulate the swap in flight: old manifest parked at .bak (a completed
    # swap DELETES the .bak, so it only ever exists inside the window)
    with open(path + ".bak", "wb") as f:
        f.write(good)

    try:
        with open(path, "wb") as f:      # corrupt the FINAL manifest
            f.write(b"{ not json !!")
        with pytest.raises(Exception):
            ds.list_dumps()              # must NOT serve stale .bak state
    finally:
        with open(path, "wb") as f:
            f.write(good)

    os.remove(path)                      # rename window: final absent
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        names = {d.directory_name for d in ds.list_dumps()}
    assert "a" in names                  # .bak manifest served
    assert any("served from .bak" in str(x.message) for x in w)


def test_crashed_swap_recovery_repersists_manifest(spark, sf_dir, tmp_path):
    """A crashed swap (final manifest ABSENT, .bak present) must be healed
    on the next read: the recovered manifest is re-persisted to the FINAL
    path and the stale .bak removed — not served-with-a-warning forever.
    Before round 7 the recovery routed through _migrate()'s changed-only
    write, so nothing was ever written back and a later loss of the .bak
    lost the manifest entirely."""
    import warnings

    ds = Datastore(spark, str(tmp_path / "heal"))
    region = load_table(spark, sf_dir, "region")
    ds.dump({"region": region}, "a")
    path = os.path.join(ds.root, "metadata.json")
    good = open(path, "rb").read()
    with open(path + ".bak", "wb") as f:
        f.write(good)
    os.remove(path)                      # crashed swap: final lost

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        names = {d.directory_name for d in ds.list_dumps()}
    assert "a" in names
    assert any("served from .bak" in str(x.message) for x in w)

    # healed: final re-persisted, .bak gone, second read is warning-free
    assert os.path.exists(path)
    assert not os.path.exists(path + ".bak")
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        names2 = {d.directory_name for d in ds.list_dumps()}
    assert names2 == names
    assert not any("served from .bak" in str(x.message) for x in w2)


def test_dump_diff_counts_multiset_deltas(spark, sf_dir, store):
    """r10 `dump diff`: exact per-table multiset row deltas between two
    versions, schema-drift flag, one-sided tables reported fully."""
    from pyspark.sql import functions as F

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    store.dump({"nation": nation, "region": region}, "v1")
    # v2: drop 3 nations, add 2 (modified copies), duplicate 1 existing
    # row (multiset semantics!), drop the region table entirely
    kept = nation.filter(F.col("n_nationkey") >= 3)
    added = (nation.filter(F.col("n_nationkey") < 2)
             .withColumn("n_nationkey", F.col("n_nationkey") + 1000))
    dup = nation.filter(F.col("n_nationkey") == 5)
    store.dump({"nation": kept.unionByName(added).unionByName(dup)}, "v2")
    out = {r.table_name: r for r in store.diff("v1", "v2").collect()}
    n = out["nation"]
    n_total = nation.count()
    assert n.rows_a == n_total
    assert n.rows_b == (n_total - 3) + 2 + 1
    assert n.rows_added == 3            # 2 new keys + 1 extra copy
    assert n.rows_removed == 3          # keys 0, 1, 2
    assert n.schema_changed is False
    r = out["region"]
    assert (r.rows_a, r.rows_b, r.rows_added, r.rows_removed) == \
        (region.count(), 0, 0, region.count())
    assert r.schema_changed is True
    # identical dumps diff to zero
    store.dump({"nation": nation}, "v3")
    store.dump({"nation": nation}, "v4")
    z = {x.table_name: x for x in store.diff("v3", "v4").collect()}
    assert (z["nation"].rows_added, z["nation"].rows_removed) == (0, 0)


def test_dump_diff_schema_drift_compares_common_columns(spark, sf_dir,
                                                        store):
    nation = load_table(spark, sf_dir, "nation")
    store.dump({"nation": nation}, "s1")
    store.dump({"nation": nation.withColumn(
        "extra", nation.n_nationkey * 2)}, "s2")
    out = store.diff("s1", "s2").collect()[0]
    # same rows on the common columns; the drift is flagged, not counted
    assert (out.rows_added, out.rows_removed) == (0, 0)
    assert out.schema_changed is True


def test_written_timestamps_carry_rowgroup_stats(spark, sf_dir, store):
    """r12 engine-wide fix, r13 regression guard: Spark's legacy INT96
    timestamp encoding carries NO parquet column statistics, which
    silently turns every time-predicate row-group skip into a no-op on
    data this engine writes.  session.get_spark pins
    spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS; nothing else
    locked it — a future session tweak would revert to stats-less
    timestamps with zero failing tests.  Assert on the actual footers of
    the DATASTORE write path: timestamp columns must be INT64 with
    min/max stats present."""
    import glob

    import pyarrow.parquet as pq

    events = load_table(spark, sf_dir, "events").limit(1000)
    store.dump({"events": events}, "ts-stats")
    files = glob.glob(os.path.join(store.root, "ts-stats", "**",
                                   "*.parquet"), recursive=True)
    assert files, "dump wrote no parquet files"
    checked = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for i in range(len(md.schema)):
            col = md.schema.column(i)
            if col.name != "ts":
                continue
            assert col.physical_type == "INT64", (
                f, col.physical_type,
                "INT96 regression: outputTimestampType lost")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                assert st is not None and st.has_min_max, (
                    f, rg, "timestamp column lost its min/max stats")
                checked += 1
    assert checked > 0, "no ts row groups found in the dump"
