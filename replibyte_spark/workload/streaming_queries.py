"""Gate queries for the streaming surface (batch renderings of the unified
plans; the streaming renderings are proven equal in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import dialect as D
from ..catalog import load_table
from ..streaming.events import sessionized_stats, windowed_event_counts
from . import Query, register


def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return windowed_event_counts(ev).orderBy("window_start", "event_type")


TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""

register(Query("tumbling_window_counts", tumbling_window_counts, TUMBLING_ORACLE,
               tags=("streaming",)), extra=True)


def sliding_window_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import sliding_window_counts

    ev = load_table(spark, sf_dir, "events")
    return (sliding_window_counts(ev, "1 hour", "15 minutes")
            .orderBy("window_start", "event_type"))


# every event belongs to exactly window/slide = 4 overlapping windows; the
# oracle enumerates them with pure naive-timestamp arithmetic (no TZ types)
SLIDING_ORACLE = """
SELECT window_start, event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM (
  SELECT TIMESTAMP '1970-01-01 00:00:00'
         + ((CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * INTERVAL 15 MINUTE)
         AS window_start,
         event_type, value
  FROM events, generate_series(0, 3) t(k)
)
GROUP BY 1, 2 ORDER BY 1, 2
"""

# EXTRA since round 9: still oracle-checked by pytest, but its REGISTRY
# slot went to semantic_cluster_dedup (sliding windows are the low-risk
# sibling of the still-gated tumbling/dedup/session/stateful streaming
# gates — same windowed-agg family as tumbling_window_counts)
register(Query("sliding_window_counts", sliding_window_counts_query,
               SLIDING_ORACLE, tags=("streaming",)), extra=True)


def _drain_memory_sink(spark: SparkSession, q, name: str,
                       ckpt_dir: str) -> DataFrame:
    """Finish an availableNow run and hand back its output WITHOUT leaking:

    - awaitTermination's boolean is CHECKED — a timed-out run used to
      return a partially-populated memory table as if it were complete
      (streaming/events.py:137 fixes the same pattern);
    - the memory table is snapshotted to a driver-local frame (bounded:
      gate outputs are per-key summaries, thousands of rows), then the
      temp view and checkpoint dir are dropped — uuid-named sink tables
      otherwise pin a full result copy in driver memory per invocation,
      beyond the reach of clearCache/free_persistent_rdds."""
    import shutil

    if not q.awaitTermination(180):
        q.stop()
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        raise TimeoutError(
            f"availableNow run {name} did not finish within 180s; "
            f"partial results discarded")
    tbl = spark.table(name)
    snap = spark.createDataFrame(tbl.collect(), tbl.schema)
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return snap


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the ACTUAL watermark-bounded streaming dedup (availableNow) on
    (user_id, event_type), then counts survivors per event_type — a
    winner-independent summary, so the oracle is exact even though which
    duplicate survives is arbitrary."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from ..streaming.events import dedup_event_stream, read_event_stream

    stream = read_event_stream(spark, os.path.join(sf_dir, "events.parquet"))
    # Watermark WIDER than any fixture's full ts span: the oracle's exact
    # count-distinct equivalence requires that no same-key pair can ever be
    # separated by more than the watermark, however the source splits into
    # micro-batches — with "1 day" it was only true while availableNow
    # happened to process everything in one batch.
    dd = dedup_event_stream(stream, ["user_id", "event_type"],
                            watermark="3650 days")
    name = f"gate_dedup_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")
    q = (dd.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    return (_drain_memory_sink(spark, q, name, ckpt)
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
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from ..streaming.events import read_event_stream
    from ..streaming.stateful import running_user_totals

    stream = read_event_stream(spark, os.path.join(sf_dir, "events.parquet"))
    out = running_user_totals(stream.select("user_id", "value"))
    name = f"gate_stateful_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    emitted = _drain_memory_sink(spark, q, name, ckpt)
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
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from ..functions import text as T
    from ..functions.pii import scrub_pii_sql

    d = D.SPARK
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    path = os.path.join(sf_dir, "documents.parquet")
    reader = (spark.readStream.schema(schema)
              .option("pathGlobFilter", os.path.basename(path)))
    stream = reader.parquet(os.path.dirname(path))
    scored = stream.selectExpr(
        "source",
        f"{scrub_pii_sql(d, 'text')} AS clean_text",
        f"round({T.quality_score_sql(d, 'text')}, 6) AS quality")
    agg = (scored.filter(F.col("quality") >= 0.5)
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.sum(F.length("clean_text")).cast("long")
                .alias("clean_chars")))
    name = f"gate_cur_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    return _drain_memory_sink(spark, q, name, ckpt).orderBy("source")


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
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..operators import dedup as DD
    from .dedup_queries import (EXACT_SHIFT, MHI_MOD, MHI_THRESHOLD,
                                _minhash_index_fixture)

    path = _minhash_index_fixture(spark, sf_dir)
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    p = os.path.join(sf_dir, "documents.parquet")
    reader = (spark.readStream.schema(schema)
              .option("pathGlobFilter", os.path.basename(p)))
    stream = reader.parquet(os.path.dirname(p))
    batch_stream = (
        stream.filter(F.col("doc_id") % MHI_MOD == 0)
        .select("doc_id", "text")
        .unionByName(
            stream.filter((F.col("doc_id") % MHI_MOD == 1)
                          & (F.col("doc_id") < 30))
            .select((F.col("doc_id") + EXACT_SHIFT).alias("doc_id"),
                    "text")))
    out_dir = tempfile.mkdtemp(prefix="rs_admit_out_")
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")

    def admit(mb_df, _epoch_id: int) -> None:
        admitted = DD.dedup_batch_against_index(mb_df, path,
                                                threshold=MHI_THRESHOLD)
        admitted.select("doc_id").write.mode("append").parquet(out_dir)

    q = (batch_stream.writeStream.foreachBatch(admit)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    try:
        if not q.awaitTermination(180):
            q.stop()
            raise TimeoutError(
                "streaming admit did not finish within 180s")
        out = spark.read.parquet(out_dir)
        snap = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    return snap.orderBy("doc_id")


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


def streaming_full_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9 COMPOSED ingest path as a stream: each arriving micro-batch
    flows through all three admit tiers (operators/ingest.py
    full_incremental_admit — exact fingerprint → MinHash band →
    embedding) against the stored MinHash + ANN sidecars via
    foreachBatch; embeddings arrive by a stream-static join keyed on the
    original doc id.  Admission is per-batch-vs-index, so the admitted
    union over any micro-batch split equals the one-shot result —
    stream ≡ batch by construction, proven by the from-scratch SQL
    oracle (the composed gate's oracle filtered to 'admitted')."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.ingest import full_incremental_admit
    from ..util import released
    from .dedup_queries import (FA_EXACT_SHIFT, FA_LEX_SHIFT, FA_PROBE,
                                FA_SEM_SHIFT, FA_SEM_T, MHI_MOD,
                                MHI_THRESHOLD, _fa_ann_index,
                                _minhash_index_fixture)

    mh = _minhash_index_fixture(spark, sf_dir)
    ann = _fa_ann_index(spark, sf_dir)
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    p = os.path.join(sf_dir, "documents.parquet")
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", os.path.basename(p))
              .parquet(os.path.dirname(p)))
    m = F.col("doc_id") % MHI_MOD
    batch_stream = (
        stream.filter(m == 0).select("doc_id", "text")
        .unionByName(
            stream.filter((m == 1) & (F.col("doc_id") < 30))
            .select((F.col("doc_id") + FA_EXACT_SHIFT).alias("doc_id"),
                    "text"))
        .unionByName(
            stream.filter((m == 1) & (F.col("doc_id") >= 30)
                          & (F.col("doc_id") < 60))
            .select((F.col("doc_id") + FA_SEM_SHIFT).alias("doc_id"),
                    F.expr("concat('qzv novel document ', "
                           "CAST(doc_id AS STRING), ' wvu xost')")
                    .alias("text")))
        .unionByName(
            stream.filter((m == 1) & (F.col("doc_id") >= 60)
                          & (F.col("doc_id") < 90))
            .select((F.col("doc_id") + FA_LEX_SHIFT).alias("doc_id"),
                    F.expr("concat(text, ' zzqx')").alias("text"))))
    emb = (load_table(spark, sf_dir, "embeddings")
           .select(F.col("vec_id").alias("__orig"), "embedding"))
    out_dir = tempfile.mkdtemp(prefix="rs_fadmit_out_")
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")

    def admit(mb_df, _epoch_id: int) -> None:
        # the engineered shifts are all >= 1M and original ids < 1M, so
        # the original id (the embedding key) is doc_id % 1M
        joined = (mb_df.withColumn("__orig", F.col("doc_id") % 1_000_000)
                  .join(emb, "__orig").drop("__orig"))
        # Spark calls the handler on its own thread, outside any scope
        with released():
            (full_incremental_admit(joined, mh, ann,
                                    lexical_threshold=MHI_THRESHOLD,
                                    semantic_threshold=FA_SEM_T,
                                    multi_probe=FA_PROBE)
             .select("doc_id").write.mode("append").parquet(out_dir))

    q = (batch_stream.writeStream.foreachBatch(admit)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    try:
        if not q.awaitTermination(180):
            q.stop()
            raise TimeoutError(
                "streaming full admit did not finish within 180s")
        out = spark.read.parquet(out_dir)
        snap = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    return snap.orderBy("doc_id")


def _streaming_full_admit_oracle() -> str:
    from .dedup_queries import _fa_oracle

    return (f"SELECT doc_id FROM ({_fa_oracle()}) "
            f"WHERE decision = 'admitted' ORDER BY doc_id")


register(Query("streaming_full_admit", streaming_full_admit,
               _streaming_full_admit_oracle(),
               tags=("streaming", "dedup", "similarity", "index")),
         extra=True)


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
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from ..streaming.quota import streaming_group_quota

    path = os.path.join(sf_dir, "documents.parquet")
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", os.path.basename(path))
              .parquet(os.path.dirname(path)))
    admitted = streaming_group_quota(stream, QUOTA_CAP, group_col="lang",
                                     id_col="doc_id")
    name = f"gate_quota_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")
    q = (admitted.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    emitted = _drain_memory_sink(spark, q, name, ckpt)
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


# --- quota composed IN FRONT of the full admit tier (r12) -------------------
# The production shape quota.py's docstring promises: the per-group quota
# stream runs ahead of the 3-tier incremental dedup admit, so a runaway
# domain is rate-limited BEFORE it spends exact/MinHash/embedding work —
# the quota is one integer of state per group, the admit tiers only ever
# see the survivors.  Stream ≡ batch holds end-to-end because both stages
# are batch-split-insensitive: the quota's lifetime count is
# min(cap, group size) regardless of chopping, and each admit decision is
# per-doc-vs-index (never batch-peer-dependent), so the composed oracle is
# the quota window INTERSECTED with the one-shot admit decisions.

QCAP_FA = 10


def streaming_quota_full_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow stream: the full-admit gate's engineered 4-branch
    batch (raw + exact/semantic/lexical recrawl slices, each carrying its
    base doc's lang) flows first through streaming_group_quota (at most
    QCAP_FA docs per lang for the stream's lifetime), then each
    micro-batch of quota survivors through full_incremental_admit
    against the stored MinHash + ANN sidecars via foreachBatch (text and
    embedding re-attached by a stream-static join on the engineered id —
    the quota stage deliberately carries only (lang, doc_id): one narrow
    row into state, the wide columns rejoin after the gate)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.ingest import full_incremental_admit
    from ..streaming.quota import streaming_group_quota
    from .dedup_queries import (FA_EXACT_SHIFT, FA_LEX_SHIFT, FA_PROBE,
                                FA_SEM_SHIFT, FA_SEM_T, MHI_MOD,
                                MHI_THRESHOLD, _fa_ann_index, _fa_batch,
                                _minhash_index_fixture)
    from ..util import materialize, released

    mh = _minhash_index_fixture(spark, sf_dir)
    ann = _fa_ann_index(spark, sf_dir)
    fab_static = materialize(_fa_batch(spark, sf_dir))
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    p = os.path.join(sf_dir, "documents.parquet")
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", os.path.basename(p))
              .parquet(os.path.dirname(p)))
    m = F.col("doc_id") % MHI_MOD
    batch_stream = (
        stream.filter(m == 0).select("lang", "doc_id")
        .unionByName(
            stream.filter((m == 1) & (F.col("doc_id") < 30))
            .select("lang",
                    (F.col("doc_id") + FA_EXACT_SHIFT).alias("doc_id")))
        .unionByName(
            stream.filter((m == 1) & (F.col("doc_id") >= 30)
                          & (F.col("doc_id") < 60))
            .select("lang",
                    (F.col("doc_id") + FA_SEM_SHIFT).alias("doc_id")))
        .unionByName(
            stream.filter((m == 1) & (F.col("doc_id") >= 60)
                          & (F.col("doc_id") < 90))
            .select("lang",
                    (F.col("doc_id") + FA_LEX_SHIFT).alias("doc_id"))))
    quota_out = streaming_group_quota(batch_stream, QCAP_FA,
                                      group_col="lang", id_col="doc_id")
    out_dir = tempfile.mkdtemp(prefix="rs_qfadmit_out_")
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")

    def admit(mb_df, _epoch_id: int) -> None:
        survivors = mb_df.join(fab_static, "doc_id")
        with released():        # as in streaming_full_admit
            (full_incremental_admit(survivors, mh, ann,
                                    lexical_threshold=MHI_THRESHOLD,
                                    semantic_threshold=FA_SEM_T,
                                    multi_probe=FA_PROBE)
             .select("lang", "doc_id")
             .write.mode("append").parquet(out_dir))

    q = (quota_out.writeStream.foreachBatch(admit)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    try:
        if not q.awaitTermination(180):
            q.stop()
            raise TimeoutError(
                "streaming quota->admit did not finish within 180s")
        out = spark.read.parquet(out_dir)
        snap = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    return snap.orderBy("doc_id")


def _quota_full_admit_oracle() -> str:
    from .dedup_queries import (FA_EXACT_SHIFT, FA_LEX_SHIFT, FA_SEM_SHIFT,
                                MHI_MOD, _fa_oracle)

    return f"""
WITH fab AS (
  SELECT d.lang, d.doc_id FROM documents d WHERE d.doc_id % {MHI_MOD} = 0
  UNION ALL
  SELECT d.lang, d.doc_id + {FA_EXACT_SHIFT} FROM documents d
  WHERE d.doc_id % {MHI_MOD} = 1 AND d.doc_id < 30
  UNION ALL
  SELECT d.lang, d.doc_id + {FA_SEM_SHIFT} FROM documents d
  WHERE d.doc_id % {MHI_MOD} = 1 AND d.doc_id >= 30 AND d.doc_id < 60
  UNION ALL
  SELECT d.lang, d.doc_id + {FA_LEX_SHIFT} FROM documents d
  WHERE d.doc_id % {MHI_MOD} = 1 AND d.doc_id >= 60 AND d.doc_id < 90
), qwin AS (
  SELECT lang, doc_id FROM (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
    FROM fab
  ) WHERE rk <= {QCAP_FA}
)
SELECT q.lang, a.doc_id
FROM ({_fa_oracle()}) a JOIN qwin q ON a.doc_id = q.doc_id
WHERE a.decision = 'admitted'
ORDER BY a.doc_id
"""


register(Query("streaming_quota_full_admit", streaming_quota_full_admit,
               _quota_full_admit_oracle,
               tags=("streaming", "stateful", "dedup", "similarity",
                     "index")), extra=True)


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

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..sinks.partitioned import (compact_time_partitions,
                                     load_time_partitioned,
                                     partition_files)
    from .analytics import PART_HI, PART_LO

    events = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="rs_pingest_src_")
    # three source files → three micro-batches with maxFilesPerTrigger=1
    for m in range(3):
        (events.filter(F.col("event_id") % 3 == m).coalesce(1)
         .write.mode("append").parquet(src))
    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    layout = tempfile.mkdtemp(prefix="rs_pingest_layout_") + "/events"
    ckpt = tempfile.mkdtemp(prefix="rs_gate_ckpt_")
    q = (stream.withColumn("event_date", F.col("ts").cast("date"))
         .writeStream.format("parquet")
         .option("path", layout)
         .option("checkpointLocation", ckpt)
         .partitionBy("event_date")
         .trigger(availableNow=True)
         .start())
    try:
        if not q.awaitTermination(180):
            q.stop()
            raise TimeoutError("partitioned ingest did not finish in 180s")
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
        snap = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(layout), ignore_errors=True)
    return snap


def _partitioned_ingest_oracle() -> str:
    from .analytics import PARTITIONED_EVENTS_ORACLE

    return PARTITIONED_EVENTS_ORACLE


register(Query("streaming_partitioned_ingest", streaming_partitioned_ingest,
               _partitioned_ingest_oracle,
               tags=("streaming", "layout")), extra=True)
