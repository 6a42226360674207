"""The driver's correctness gate, run locally: every registered query's Spark
result must match its DuckDB oracle exactly (sorted rows, same column names).

This is the same comparison CORRECTNESS_r{N}.json records, so a green run here
means a green driver gate.
"""

from __future__ import annotations

import math

import pytest

from replibyte_spark.util import released
from replibyte_spark.workload import REGISTRY, all_queries

ALL = all_queries()  # driver-gated (REGISTRY) + pytest-only (EXTRA)


def test_registry_fits_driver_cap():
    """The driver's correctness artifact records only the FIRST 50 entries
    of queries() — every registered gate must be inside that window, or a
    failure there would be invisible (the round-2 defect)."""
    assert len(REGISTRY) <= 50, (
        f"{len(REGISTRY)} driver-visible queries > 50: move redundant gates "
        f"to EXTRA (register(..., extra=True))")


def test_high_risk_gates_are_driver_visible():
    names = list(REGISTRY)
    for must in ("subset_parent_closure", "subset_full_closure",
                 "stratified_doc_sample", "doc_text_metrics",
                 "minhash_near_dup", "simhash_near_dup",
                 "curation_pipeline_v4", "incremental_index_dedup",
                 "doc_language_id", "embedding_index_admit",
                 "partitioned_events_revenue", "ann_tuned_ivf_topk"):
        assert must in names[:50], f"{must} fell outside the driver window"


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rows(seq):
    rows = [tuple(_norm(v) for v in r) for r in seq]
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", sorted(ALL))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = ALL[name]
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    pinned = set(jsc.getPersistentRDDs().keys())
    entries = cache.numCachedEntries()
    views = _temp_views(spark)
    with released():
        df = q.spark_fn(spark, sf_dir)
        got_cols = df.columns
        got = _rows(tuple(r) for r in df.collect())
    # the row's scope freed everything the row cached or checkpointed
    assert not set(jsc.getPersistentRDDs().keys()) - pinned, name
    assert cache.numCachedEntries() <= entries, name
    # ... and left no stream running and no temp view registered
    assert not spark.streams.active, name
    assert _temp_views(spark) == views, name
    assert len(got) > 0, f"{name}: empty result"
    sql = q.oracle_text()
    if sql is None:
        pytest.skip(f"{name}: no oracle (rows-only check: {len(got)} rows)")
    cur = duck.execute(sql)
    want_cols = [d[0] for d in cur.description]
    want = _rows(cur.fetchall())
    assert got_cols == want_cols, f"{name}: column names differ: {got_cols} vs {want_cols}"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    if got != want:
        for i, (g, w) in enumerate(zip(got, want)):
            assert g == w, f"{name}: first diff at row {i}:\n  spark={g}\n  duck ={w}"
    assert got == want
