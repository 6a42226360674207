"""Composed incremental-ingest admission: the three dedup tiers chained.

This is THE per-batch ingest path a long-lived 100 TB corpus runs on each
arriving crawl snapshot, composing the round-7/8 pieces end-to-end against
their materialized sidecars:

1. **exact** — md5-of-normalized-text fingerprint semi-join against the
   MinHash index's fingerprint sidecar (operators/dedup.py
   exact_index_flagged_ids).  One hash per batch doc, no shingling; web
   recrawl batches are commonly 30-60% byte-identical, so the cheapest
   tier runs first and every later tier only sees survivors.
2. **lexical** — MinHash band-bucket probe + signature-agreement verify
   against the stored signature/band sidecars (minhash_index_flagged_pairs);
   only tier-1 survivors are shingled/hashed.
3. **semantic** — RP-LSH bucket probe + exact-cosine verify against the
   materialized ANN index (similarity.embedding_index_flagged_pairs);
   only tier-2 survivors' embeddings are bucketed.

Tier costs are strictly increasing and each tier shrinks the next one's
input, so the composition's corpus-side cost stays what the individual
admit paths promise: sidecar parquet scans only, nothing corpus-sized
ever re-hashed or shuffled (the corpus-LEFT fingerprint join and the
bucket equi-joins keep their individual plan shapes — the composition is
pure anti-join chaining, adding no new shuffle over the tiers' own).

Reference analogue: none — Replibyte has no text/embedding analytics
(SURVEY.md §2.9); this is the LLM-training-data extension layer's
capstone, per the BASELINE.json north star (incremental dedup across
exact/lexical/semantic modalities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import materialize
from .dedup import exact_index_flagged_ids, minhash_index_flagged_pairs
from .similarity import embedding_index_flagged_pairs

#: decision values, in tier order (a doc gets the FIRST tier that flags it)
DECISIONS = ("exact", "lexical", "semantic", "admitted")


def full_incremental_admit_decisions(
        new_docs: DataFrame, mh_index_path: str, ann_index_path: str,
        id_col: str = "doc_id", text_col: str = "text",
        vec_col: str = "embedding",
        lexical_threshold: float = 0.8,
        semantic_threshold: float = 0.9,
        multi_probe: int = 1,
        broadcast_batch_limit: int = 256 * 1024 * 1024) -> DataFrame:
    """(id, decision) for EVERY batch doc: which tier rejected it
    ('exact' | 'lexical' | 'semantic', the first tier that flagged wins
    by construction — later tiers never see a rejected doc) or
    'admitted'.  `new_docs` must carry id, text AND the embedding column;
    every output frame is batch-bounded (ids + a one-word decision), so
    the union at the end is small regardless of corpus size.

    Each tier's flagged-id frame is EAGERLY localCheckpoint'ed: a tier
    feeds both the decision union and (via anti-join) every later tier,
    so an unpinned plan re-runs tier k's whole probe once per downstream
    branch (measured 13.9 s → 3.5 s on the sf0.1 gate).  The id frames
    are tiny at any scale, so materializing them is the cheap side of
    the trade everywhere.  The caller's `new_docs` lineage is
    deliberately NOT checkpointed: it re-evaluates once per tier, but
    for a parquet-backed batch those are plain scans, while
    materializing a 1 TB crawl snapshot to executor storage is not
    obviously cheaper — checkpoint an expensive batch lineage yourself
    before calling.  The caller's released() scope frees the checkpoints
    (util.materialize)."""
    flag = lambda df, d: df.select(F.col(id_col),  # noqa: E731
                                   F.lit(d).alias("decision"))
    exact = materialize(flag(exact_index_flagged_ids(
        new_docs, mh_index_path, id_col, text_col), "exact"))
    surv1 = new_docs.join(exact.select(id_col), on=id_col, how="left_anti")
    lex = materialize(flag(minhash_index_flagged_pairs(
        surv1, mh_index_path, id_col, text_col, lexical_threshold)
        .select(F.col("id_new").alias(id_col)).distinct(), "lexical"))
    surv2 = surv1.join(lex.select(id_col), on=id_col, how="left_anti")
    sem = materialize(flag(embedding_index_flagged_pairs(
        surv2.select(F.col(id_col), F.col(vec_col)), ann_index_path,
        semantic_threshold, id_col, vec_col, multi_probe,
        broadcast_batch_limit)
        .select(F.col("id_new").alias(id_col)).distinct(), "semantic"))
    surv3 = surv2.join(sem.select(id_col), on=id_col, how="left_anti")
    return (exact.unionByName(lex).unionByName(sem)
            .unionByName(flag(surv3, "admitted")))

