"""The materialization lifecycle (util.materialize / release / released):
one module makes every persist and checkpoint, and a scope frees exactly
what was registered inside it."""

from __future__ import annotations

import pathlib
import re
import sys
import threading

import pytest

from replibyte_spark.util import (CACHED, concurrently, materialize,
                                  reads_cached, release, released)
from replibyte_spark.workload import all_queries


def test_released_frees_exactly_what_it_registered(spark, empty_registry):
    """Checkpoints, cache-manager persists and persisted RDDs made inside
    a scope are freed on exit, by exception too, innermost scope first;
    release() frees one at once; state made outside the scope, and a frame
    the cache manager already held, stay with their owners."""
    owned = materialize(spark.range(7), CACHED)     # no scope: the caller's
    owned.count()
    with released() as held:
        cp = materialize(spark.range(3))
        rdd = materialize(spark.sparkContext.parallelize(range(5)), CACHED)
        assert rdd.count() == 5
        assert materialize(owned, CACHED) is owned   # already cached
        with released():
            materialize(spark.range(6))
            assert empty_registry() == 4
        assert [id(x) for x in held] == [id(cp), id(rdd)]
        release(cp)
        assert [id(x) for x in held] == [id(rdd)] and empty_registry() == 2
    assert empty_registry() == 1 and owned.storageLevel == CACHED
    with pytest.raises(RuntimeError), released():
        materialize(spark.range(3))
        raise RuntimeError
    release(owned)
    assert empty_registry() == 0


def test_scopes_are_per_thread_and_cover_concurrently(spark, empty_registry):
    """Another thread's scope on the same session is neither freed nor fed
    by this one, while the concurrently() calls this scope starts all
    register with it (many at once, with a tiny switch interval)."""
    ready, done = threading.Event(), threading.Event()
    theirs = []

    def other():
        with released():
            theirs.append(materialize(spark.range(3)))
            ready.set()
            done.wait(60)

    t = threading.Thread(target=other)
    t.start()
    old = sys.getswitchinterval()
    try:
        assert ready.wait(60)
        sys.setswitchinterval(1e-6)
        with released() as held:
            rdds = concurrently(spark, lambda i: materialize(
                spark.sparkContext.parallelize([i]), CACHED),
                [(i,) for i in range(64)])
            assert len(held) == 64
        assert not any(r.is_cached for r in rdds)
        assert empty_registry() == 1 and theirs[0].count() == 3
    finally:
        sys.setswitchinterval(old)
        done.set()
        t.join(60)
    assert not t.is_alive() and empty_registry() == 0


def test_cached_inputs_decide_the_extra_materialization(spark, sf_dir):
    """reads_cached (plan inspection, no job) decides what the retired
    knobs did: the rows whose input reads through a cache still checkpoint
    the candidate (id, text) sliver (training_corpus_pipeline) and stack
    no feature persist on the cached survivors (curation_pipeline_v4); the
    parquet-reading rows do neither."""
    from replibyte_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    sc.setJobGroup("reads-cached", "plan inspection only")
    try:
        with released():
            assert not reads_cached(docs)
            cached = materialize(docs.select("doc_id", "text"), CACHED)
            assert reads_cached(cached.filter("doc_id > 3"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("reads-cached")

    def registered(name):
        with released() as held:
            all_queries()[name].spark_fn(spark, sf_dir)
            return [tuple(df.columns) for df in held]

    sliver, features = ("doc_id", "text"), ("doc_id", "bucket", "cnt")
    assert sliver in registered("training_corpus_pipeline")
    assert sliver not in registered("near_dup_survivors")
    assert features not in registered("curation_pipeline_v4")
    assert features in registered("dsir_select_topk")


def test_only_util_persists_or_checkpoints():
    pkg = pathlib.Path(__file__).resolve().parents[1] / "replibyte_spark"
    call = re.compile(r"\.(persist|cache|localCheckpoint)\(")
    hits = [f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py")) if p.name != "util.py"
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if call.search(line)]
    assert not hits, hits
