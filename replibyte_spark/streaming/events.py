"""Structured Streaming surface over the events table.

The reference is strictly batch (no watermarks/windows/state anywhere —
SURVEY.md §1.2), so this module is pure superset capability: event
operators with event-time semantics that work on a stream as well as on
a batch frame.

Design: every operator is written once against a DataFrame and works in
BOTH batch and streaming mode (Spark's unified API).
`streaming_dedup_counts` runs the dedup as a stream (streaming/runner.py);
`session_stats` runs the session windows in batch.  The DuckDB oracle
checks both.

- watermark-bounded dedup (`dropDuplicatesWithinWatermark`)
- session windows (`session_window`) — the gaps-and-islands computation the
  oracle expresses with lag()/cumulative-sum
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_event_stream(events: DataFrame, keys: list[str],
                       watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key events, unified batch/stream.

    Streaming mode: watermark-bounded dedup state
    (`dropDuplicatesWithinWatermark`) — state is evicted once the watermark
    passes, so a 100 TB/day stream holds hours of keys, not forever.  Batch
    mode: plain `dropDuplicates`.  (The reference's dedup is the batch
    spill-file set, subset/src/dedup.rs:9-63; this is its streaming
    counterpart.)
    """
    if events.isStreaming:
        return (events.withWatermark("ts", watermark)
                .dropDuplicatesWithinWatermark(keys))
    return events.dropDuplicates(keys)


def sessionized_stats(events: DataFrame, gap: str = "6 hours") -> DataFrame:
    """Per-user session stats via `session_window` (merge-on-gap semantics)."""
    src = events.withWatermark("ts", "1 day") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "sum_value")
    )
