"""Per-group admission quotas for a document stream.

The streaming rendering of :func:`~..operators.sample.per_group_cap`:
an ingest stream (crawl batches arriving over time) must admit at most
`cap` documents per group (domain/source/language) ACROSS THE STREAM'S
LIFETIME — the batch operator re-ranks a finished corpus, this one
enforces the budget as data arrives, first-come-first-admitted.

State per group is one integer (admitted so far): O(1) per key,
partitioned by the group key across executors like any shuffle.  Within
a micro-batch ALL of the group's Arrow chunks are concatenated and
sorted by the id column before the remaining budget is applied
(applyInPandasWithState delivers a large group as multiple ~10k-row
chunks; r12 ADVICE — a per-chunk sort made the admitted SET depend on
chunk boundaries once a capped group spanned more than one chunk, so a
"deterministic single-batch replay" held only for small groups).  The
concat is bounded by the group's size within ONE micro-batch — the unit
applyInPandasWithState already materializes per key on an executor —
not by the stream's history, so the 100 TB shape is unchanged: O(batch
share of the group) memory, one integer of state.  Across batches
admission is arrival-ordered by construction.  The per-group ADMITTED
COUNT — min(cap, group size) once the stream drains — is independent of
how the source chopped the data into batches, which is what the DuckDB
oracle checks; the in-batch sort additionally pins the admitted SET for
any fixed batch partitioning.

Run it with ``corpus quota`` (a caller-owned checkpoint, so a re-run
resumes the per-group counts) or through streaming/runner.py
(``streaming_quota_admit``).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

STATE_SCHEMA = StructType([
    StructField("admitted", LongType()),
    StructField("seen", LongType()),
])


def _make_update(cap: int, id_field: str):
    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (group,) = key
        admitted, seen = state.get if state.exists else (0, 0)
        # one concat + one sort across every chunk of this group's batch:
        # the admitted set must not depend on Arrow chunk boundaries
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (pd.concat(chunks) if len(chunks) > 1 else chunks[0])
            batch = batch.sort_values(id_field)
            seen += len(batch)
            budget = cap - admitted
            if budget > 0:
                take = batch.head(budget)
                admitted += len(take)
                state.update((admitted, seen))
                yield take
                return
        state.update((admitted, seen))

    return update


def streaming_group_quota(docs: DataFrame, cap: int,
                          group_col: str = "lang",
                          id_col: str = "doc_id") -> DataFrame:
    """Admit at most `cap` rows per group over the stream's lifetime,
    emitting the admitted (group, id) rows as they arrive.

    The output/state schema is derived from the input columns' actual
    types (r12 ADVICE: a hardcoded string/long pair broke any
    ``corpus quota --group-col/--id-col`` pointing at e.g. an int group
    or a string id at Arrow conversion time)."""
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    out_schema = StructType([
        StructField(group_col, docs.schema[group_col].dataType),
        StructField(id_col, docs.schema[id_col].dataType),
    ])
    return (docs.select(group_col, id_col)
            .groupBy(group_col)
            .applyInPandasWithState(
                _make_update(cap, id_col),
                outputStructType=out_schema,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))
