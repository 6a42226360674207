"""Gate queries for the streaming surface.

Each stream row reads a fixture table as a stream and runs it to the end
of its input through streaming/runner.py; its DuckDB oracle is the batch
SQL, so a pass proves stream ≡ batch.  `session_stats` is the batch
rendering of the unified session-window plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from ..streaming.events import sessionized_stats
from ..streaming.runner import (read_table_stream, run_available_now,
                                start_available_now)
from . import Query, register


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the ACTUAL watermark-bounded streaming dedup (availableNow) on
    (user_id, event_type), then counts survivors per event_type — a
    winner-independent summary, so the oracle is exact even though which
    duplicate survives is arbitrary."""
    from ..streaming.events import dedup_event_stream

    stream = read_table_stream(spark, sf_dir, "events")
    # Watermark WIDER than any fixture's full ts span: the oracle's exact
    # count-distinct equivalence requires that no same-key pair can ever be
    # separated by more than the watermark, however the source splits into
    # micro-batches — with "1 day" it was only true while availableNow
    # happened to process everything in one batch.
    dd = dedup_event_stream(stream, ["user_id", "event_type"],
                            watermark="3650 days")
    return (run_available_now(dd)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("event_type"))


STREAM_DEDUP_ORACLE = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_pairs
FROM events GROUP BY event_type ORDER BY event_type
"""

register(Query("streaming_dedup_counts", streaming_dedup_counts,
               STREAM_DEDUP_ORACLE, tags=("streaming", "dedup")))


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionized_stats(ev, gap="6 hours").orderBy("user_id", "session_start")


# gaps-and-islands: a new session starts when the gap to the previous event
# is >= 6 hours (session_window extends a window to last_ts + gap, half-open)
SESSION_ORACLE = """
WITH l AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), g AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 6 HOUR
                 THEN 1 ELSE 0 END AS new_s
  FROM l
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
"""

register(Query("session_stats", session_stats, SESSION_ORACLE,
               tags=("streaming", "session")))


def stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the ACTUAL applyInPandasWithState stream (availableNow) over the
    events table and returns the final per-user state — which must equal the
    plain SQL aggregate.  Proves arbitrary-state streaming, not just the
    built-in windowed aggregations."""
    from ..streaming.stateful import running_user_totals

    stream = read_table_stream(spark, sf_dir, "events")
    emitted = run_available_now(
        running_user_totals(stream.select("user_id", "value")))
    return (emitted.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 F.max_by("sum_value", "n_events").alias("sum_value"))
            .orderBy("user_id"))


STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id
"""

register(Query("stateful_running_totals", stateful_running_totals,
               STATEFUL_ORACLE, tags=("streaming", "stateful")))


def streaming_curation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time curation: the PII scrub + quality scoring
    pass applied INSIDE a Structured Streaming micro-batch pipeline over
    the documents table (availableNow), summarized per source.  The
    transforms are pure projections + one windowless aggregation, so
    stream ≡ batch exactly — which is the point: the same curation
    expressions bolt onto a live ingest stream with no semantic drift,
    and the batch-SQL oracle proves it."""
    from ..functions import text as T
    from ..functions.pii import scrub_pii_sql

    d = D.SPARK
    scored = read_table_stream(spark, sf_dir, "documents").selectExpr(
        "source",
        f"{scrub_pii_sql(d, 'text')} AS clean_text",
        f"round({T.quality_score_sql(d, 'text')}, 6) AS quality")
    agg = (scored.filter(F.col("quality") >= 0.5)
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.sum(F.length("clean_text")).cast("long")
                .alias("clean_chars")))
    return run_available_now(agg, output_mode="complete").orderBy("source")


def _streaming_curation_oracle() -> str:
    from ..functions import text as T
    from ..functions.pii import scrub_pii_sql

    d = D.DUCK
    return f"""
WITH scored AS (
  SELECT source,
         {scrub_pii_sql(d, 'text')} AS clean_text,
         round({T.quality_score_sql(d, 'text')}, 6) AS quality
  FROM documents
)
SELECT source, count(*) AS n_kept,
       CAST(sum(length(clean_text)) AS BIGINT) AS clean_chars
FROM scored WHERE quality >= 0.5
GROUP BY source ORDER BY source
"""


register(Query("streaming_curation_quality", streaming_curation_quality,
               _streaming_curation_oracle(), tags=("streaming", "text", "pii")),
         extra=True)


def streaming_incremental_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest as a STREAM: each arriving micro-batch is
    admitted against the materialized MinHash index via foreachBatch —
    the exact two-tier dedup_batch_against_index plan (fingerprint
    semi-join, then LSH probe of the survivors) runs per micro-batch
    against the stored corpus parquet, which is never re-shingled.

    Admission is per-batch-vs-index (batches are NOT deduped against each
    other — that is the within-batch `corpus dedup` step), so the union
    of admitted ids over any micro-batch split equals the one-shot batch
    result: stream ≡ batch by construction, and the from-scratch SQL
    oracle proves it.  The batch re-uses exact_index_dedup's synthesized
    recrawl (copies of 10 indexed docs under shifted ids) so BOTH tiers
    fire at every scale factor."""
    from ..operators import dedup as DD
    from .dedup_queries import (EXACT_SHIFT, MHI_MOD, MHI_THRESHOLD,
                                _minhash_index_fixture)

    path = _minhash_index_fixture(spark, sf_dir)
    stream = read_table_stream(spark, sf_dir, "documents")
    batch_stream = (
        stream.filter(F.col("doc_id") % MHI_MOD == 0)
        .select("doc_id", "text")
        .unionByName(
            stream.filter((F.col("doc_id") % MHI_MOD == 1)
                          & (F.col("doc_id") < 30))
            .select((F.col("doc_id") + EXACT_SHIFT).alias("doc_id"),
                    "text")))
    return run_available_now(
        batch_stream,
        lambda mb: DD.dedup_batch_against_index(
            mb, path, threshold=MHI_THRESHOLD).select("doc_id"),
    ).orderBy("doc_id")


def _streaming_admit_oracle() -> str:
    from ..functions.text import fingerprint_sql
    from .dedup_queries import (BANDS, EXACT_SHIFT, MHI_MOD, MHI_THRESHOLD,
                                N_HASHES, _sig_band_ctes)

    d = D.DUCK
    agree = " + ".join(f"CAST(a.h{i} = b.h{i} AS INT)"
                       for i in range(N_HASHES))
    return f"""
WITH batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {MHI_MOD} = 0
  UNION ALL
  SELECT doc_id + {EXACT_SHIFT}, text FROM documents
  WHERE doc_id % {MHI_MOD} = 1 AND doc_id < 30
), cfp AS (
  SELECT DISTINCT {fingerprint_sql(d, 'text')} AS fingerprint
  FROM documents WHERE doc_id % {MHI_MOD} <> 0
), exact AS (
  SELECT DISTINCT b.doc_id FROM batch b
  JOIN cfp ON {fingerprint_sql(d, 'b.text')} = cfp.fingerprint
), {_sig_band_ctes('c', f'doc_id % {MHI_MOD} <> 0')},
{_sig_band_ctes('n', 'TRUE', 'batch')},
cand AS (
  SELECT DISTINCT nb.doc_id AS id_new, cb.doc_id AS id_corpus
  FROM nbands nb JOIN cbands cb ON nb.band = cb.band AND nb.bk = cb.bk
), lsh AS (
  SELECT DISTINCT id_new AS doc_id
  FROM cand JOIN nsig a ON a.doc_id = id_new
            JOIN csig b ON b.doc_id = id_corpus
  WHERE round(({agree}) / {N_HASHES}.0, 6) >= {MHI_THRESHOLD}
)
SELECT doc_id FROM batch
WHERE doc_id NOT IN (SELECT doc_id FROM exact)
  AND doc_id NOT IN (SELECT doc_id FROM lsh)
ORDER BY doc_id
"""


register(Query("streaming_incremental_admit", streaming_incremental_admit,
               _streaming_admit_oracle(),
               tags=("streaming", "dedup", "index")), extra=True)


QUOTA_CAP = 100


def streaming_quota_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the ACTUAL per-group quota stream (applyInPandasWithState,
    availableNow) over documents: at most QUOTA_CAP docs admitted per
    language across the stream's lifetime, first-come-first-admitted.
    The fixture table is one parquet file, so the availableNow run is one
    micro-batch and the in-batch id sort makes the admitted SET
    deterministic — the oracle checks both the quota invariant
    (n_admitted = least(cap, group size)) and the exact membership
    (id_sum); the batch-count-insensitive invariant is what survives any
    re-batching (unit-tested via direct state-function drives)."""
    from ..streaming.quota import streaming_group_quota

    emitted = run_available_now(streaming_group_quota(
        read_table_stream(spark, sf_dir, "documents"), QUOTA_CAP,
        group_col="lang", id_col="doc_id"))
    return (emitted.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_admitted"),
                 F.sum("doc_id").alias("id_sum"))
            .orderBy("lang"))


QUOTA_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_admitted,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE rk <= {QUOTA_CAP}
GROUP BY lang ORDER BY lang
"""

register(Query("streaming_quota_admit", streaming_quota_admit, QUOTA_ORACLE,
               tags=("streaming", "stateful", "sample")), extra=True)


# --- streaming ingest into the time-partitioned layout (r12) ----------------
# The production write path of sinks/partitioned.py: micro-batches append
# small files into date directories as they arrive (the small-files litter
# the compactor exists for), compaction consolidates them, and the
# date-range query proves the END state — pruned, lossless, batch-count-
# independent.  Stream ≡ batch because the layout is append-only and the
# date derivation is per-row: however the source is chopped, the union of
# files holds exactly the input rows in the right directories.

def streaming_partitioned_ingest(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..sinks.partitioned import (compact_time_partitions,
                                     load_time_partitioned,
                                     partition_files)
    from .analytics import PART_HI, PART_LO

    events = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="rs_pingest_src_")
    layout = tempfile.mkdtemp(prefix="rs_pingest_layout_") + "/events"
    try:
        # three source files → three micro-batches with maxFilesPerTrigger=1
        for m in range(3):
            (events.filter(F.col("event_id") % 3 == m).coalesce(1)
             .write.mode("append").parquet(src))
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        start_available_now(
            stream.withColumn("event_date", F.col("ts").cast("date"))
            .writeStream.format("parquet").option("path", layout)
            .partitionBy("event_date"))
        # micro-batches littered: more files than partitions
        littered = partition_files(spark, layout)
        assert sum(len(v) for v in littered.values()) > len(littered), \
            "expected multiple files per partition from micro-batches"
        compact_time_partitions(spark, layout, target_rows_per_file=10**7)
        after = partition_files(spark, layout)
        assert all(len(v) == 1 for v in after.values()), after
        out = (load_time_partitioned(spark, layout)
               .filter(F.col("event_date").between(PART_LO, PART_HI))
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.round(F.sum("value"), 2).alias("total_value"))
               .orderBy("event_type"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(layout), ignore_errors=True)


def _partitioned_ingest_oracle() -> str:
    from .analytics import PARTITIONED_EVENTS_ORACLE

    return PARTITIONED_EVENTS_ORACLE


register(Query("streaming_partitioned_ingest", streaming_partitioned_ingest,
               _partitioned_ingest_oracle,
               tags=("streaming", "layout")), extra=True)
