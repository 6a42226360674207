"""Streaming ≡ batch: the same unified plan run as an actual Structured
Streaming query (file source, availableNow trigger, memory sink) must produce
exactly the batch result the DuckDB oracle validates."""

from __future__ import annotations

import pathlib
import re


def test_stream_is_incremental(spark, sf_dir):
    """The stream must actually run as a streaming query (isStreaming) and
    carry the batch table's columns, typed from the parquet footer."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.streaming import read_table_stream

    for name in ("events", "documents"):
        s = read_table_stream(spark, sf_dir, name)
        assert s.isStreaming
        assert s.columns == load_table(spark, sf_dir, name).columns
    assert s.schema.simpleString() == ("struct<doc_id:bigint,text:string,"
                                       "lang:string,source:string,"
                                       "n_chars:bigint>")


def test_streaming_dedup_matches_batch_keys(spark, sf_dir):
    """Watermark-bounded streaming dedup must keep exactly the batch-distinct
    key set (which duplicate survives is arbitrary — keys are the contract)."""
    from replibyte_spark.catalog import load_table
    from replibyte_spark.streaming import (dedup_event_stream,
                                           read_table_stream,
                                           run_available_now)

    keys = ["user_id", "event_type"]
    ev = load_table(spark, sf_dir, "events")
    want = {tuple(r) for r in ev.select(*keys).distinct().collect()}

    stream = read_table_stream(spark, sf_dir, "events")
    dd = dedup_event_stream(stream, keys, watermark="1 day")
    got_rows = run_available_now(dd).select(*keys).collect()
    got = {tuple(r) for r in got_rows}
    assert got == want
    assert len(got_rows) == len(got)  # no key emitted twice


def test_streaming_gopher_flags_match_batch(spark, sf_dir):
    """r10: gopher_flags is a pure projection, so the SAME call bolts
    onto a Structured Streaming micro-batch pipeline unchanged — the
    per-source pass counts of an availableNow stream over the documents
    table equal the batch result exactly (stream ≡ batch, the repo's
    streaming-curation contract extended to the rule filter)."""
    from pyspark.sql import functions as F

    from replibyte_spark.catalog import load_table
    from replibyte_spark.functions.gopher import gopher_flags
    from replibyte_spark.streaming import read_table_stream, run_available_now

    def summarize(df):
        return (gopher_flags(df)
                .groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0))
                     .cast("long").alias("n_pass")))

    stream = read_table_stream(spark, sf_dir, "documents")
    got = sorted(map(tuple, run_available_now(
        summarize(stream), output_mode="complete").collect()))
    want = sorted(map(tuple, summarize(
        load_table(spark, sf_dir, "documents")).collect()))
    assert got == want and len(got) > 0


def test_run_available_now_stops_a_timed_out_run(spark, sf_dir, monkeypatch):
    """A run still going at the timeout is stopped and raises, and leaves
    no query, view or temp dir behind (the wait's boolean is checked)."""
    import tempfile

    import pytest

    from replibyte_spark.streaming import read_table_stream, runner

    monkeypatch.setattr(runner, "TIMEOUT_S", 0.001)
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    before = set(pathlib.Path(tempfile.gettempdir()).glob("rs_stream_*"))
    with pytest.raises(TimeoutError):
        runner.run_available_now(read_table_stream(spark, sf_dir, "events"))
    assert not spark.streams.active
    assert {t.name for t in spark.catalog.listTables()
            if t.isTemporary} == views
    assert set(pathlib.Path(tempfile.gettempdir())
               .glob("rs_stream_*")) == before


def test_only_the_runner_starts_available_now_queries():
    """Every stream the package runs goes through streaming/runner.py (its
    checked wait and clean-up); the CLI's `corpus quota`, which owns its
    checkpoint and waits without a timeout, is the one other site."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "replibyte_spark"
    allowed = {"streaming/runner.py", "cli.py"}
    hits = [f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py"))
            if str(p.relative_to(pkg)) not in allowed
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if re.search(r"availableNow\s*=\s*True", line)]
    assert not hits, hits
