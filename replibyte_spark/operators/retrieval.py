"""Lexical retrieval (BM25).

The semantic half of retrieval lives in operators/similarity.py (ANN over
embeddings); this module adds the LEXICAL half — public knowledge
(Robertson's BM25 as shipped by Lucene), restated as a pure Catalyst plan
with deterministic folds so the DuckDB oracle replays scores exactly.

BM25 at 100 TB is an inverted-index join: the corpus side is the
(term, doc, tf) posting aggregation (word-count shape, one shuffle), the
query side joins on the term key.  The classic skew is the Zipf head —
"the" pairs every query with half the corpus — so :func:`bm25_scores`
takes a `max_df_ratio` cap that drops terms present in more than that
fraction of documents BEFORE the join (the practical cousin of
WAND/impact pruning: high-df terms contribute near-zero idf anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import CACHED, materialize
from .lm import _tokens

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame, queries: DataFrame, k1: float = BM25_K1,
                b: float = BM25_B, id_col: str = "doc_id",
                text_col: str = "text", query_id_col: str | None = None,
                max_df_ratio: float = 0.5,
                broadcast_vocab_limit: int = 5_000_000) -> DataFrame:
    """(query_id, id, score): Lucene-shape BM25 of every document against
    every query's term set —

        Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
        idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)

    `queries` is query-by-example: a frame of (id, text) whose DISTINCT
    lowercased tokens form each query (a literal keyword list works too —
    one row per query).  Corpus statistics (N, avgdl — exact integers /
    one double ratio) are collected; df rides the posting aggregation.
    Terms with df/N > `max_df_ratio` are dropped before the join (the
    Zipf-head cap; their idf is near zero and their postings are the
    skew).  Scores are per-(query, doc) sorted folds over matched terms,
    rounded to 6dp — pairs sharing no term are absent (score 0 by
    definition, never materialized).  The df table is vocabulary-bounded
    and broadcast under `broadcast_vocab_limit`."""
    qid = query_id_col or id_col
    # persisted: three consumers (the stats collect below — which fills
    # the cache, an unavoidable barrier anyway — then the df aggregation
    # and the doc-keyed score side) would otherwise each re-run the
    # tokenize + explode + count subtree (r14: three identical 831K-read
    # map+agg stage pairs in the job history)
    postings = materialize(_tokens(docs, id_col, text_col)
                           .groupBy(id_col, "token")
                           .agg(F.count(F.lit(1)).cast("long").alias("tf")),
                           CACHED)
    # one aggregation pass yields every corpus scalar the plan needs:
    # N and avgdl for the formula, and the VOCABULARY size for the
    # broadcast guard — the broadcast side is dfreq (one row per distinct
    # token), so the guard must bound tokens, not documents (a small
    # corpus of very long unique docs has n_docs << vocab).
    stats = postings.agg(
        F.countDistinct(id_col).alias("n"),
        F.sum("tf").alias("tot"),
        F.countDistinct("token").alias("vocab")).collect()[0]
    n_docs = int(stats["n"] or 0)
    if not n_docs:
        raise ValueError("BM25 corpus is empty (no documents with tokens)")
    vocab = int(stats["vocab"])
    avgdl = f"(CAST({int(stats['tot'])} AS DOUBLE) / {n_docs})"
    dfreq = (postings.groupBy("token")
             .agg(F.count(F.lit(1)).cast("long").alias("df"))
             .filter(F.col("df") <= int(max_df_ratio * n_docs)))
    df_side = (F.broadcast(dfreq)
               if vocab <= broadcast_vocab_limit else dfreq)
    qterms = (_tokens(queries, qid, text_col)
              .select(F.col(qid).alias("query_id"), "token").distinct())
    idf = f"ln((({n_docs} - df) + 0.5) / (df + 0.5) + 1.0)"
    denom = (f"(tf + {k1!r}D * ((1.0D - {b!r}D) + "
             f"{b!r}D * (dl / {avgdl})))")
    contrib = f"({idf}) * ((tf * ({k1!r}D + 1.0D)) / {denom})"
    # Expansion-local plan (r14).  The old shape joined the query terms
    # onto postings on `token`, then joined `lens` on the doc id AFTER
    # the expansion — so the full (query × matched-posting) blow-up
    # crossed a shuffle (121 MB from 1.8 MB of postings at sf0.1), and
    # because the pre-join posting bytes are small, AQE coalesced the
    # expansion stage to ONE task (26 s of the 30 s gate; a tiny-vocab
    # corpus makes the token key nearly degenerate, so byte-based
    # coalescing cannot see the compute).  New shape:
    #   1. dl rides postings via a window over an EXPLICIT doc-keyed
    #      repartition (explicit N is exempt from AQE coalescing —
    #      the expansion runs wide no matter how few bytes feed it);
    #      the separate lens join is gone.
    #   2. qterms joins WITHOUT a hint: when the planner's size
    #      estimate fits the auto-broadcast threshold (every benched
    #      shape) the broadcast join preserves the doc partitioning;
    #      when the query set is genuinely large the planner falls
    #      back to a token-keyed shuffle instead of a forced driver
    #      OOM — the same estimate-based safety the vocab guard gives
    #      dfreq (locked by test_bm25_broadcast_guard_bounds_vocabulary).
    #   3. groupBy(query_id, doc) then needs NO exchange: the doc-id
    #      hash partitioning satisfies the grouping's clustering, so
    #      the expanded rows never shuffle at all — the decisive
    #      property at 100 TB, where the expansion is the one frame
    #      that must never cross the network.
    spread = docs.sparkSession.sparkContext.defaultParallelism
    p = (postings.withColumnRenamed(id_col, "__did")
         .repartition(spread, "__did")
         .withColumn("dl", F.sum("tf").over(
             Window.partitionBy("__did")).cast("double")))
    matched = (p.join(qterms, on="token")
               .join(df_side, on="token")
               .withColumn("v", F.expr(contrib)))
    entry = F.struct(F.col("token"), F.col("v"))
    return (matched.groupBy("query_id", "__did")
            .agg(F.round(
                F.aggregate(F.array_sort(F.collect_list(entry)),
                            F.lit(0.0), lambda acc, e: acc + e["v"]),
                6).alias("score"))
            .withColumnRenamed("__did", id_col))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 5,
              id_col: str = "doc_id", text_col: str = "text",
              exclude_self: bool = True, **kw) -> DataFrame:
    """(query_id, id, score, rank) — top-k BM25 documents per query
    (deterministic tie-break on ascending doc id; `exclude_self` drops
    the query-by-example doc itself)."""
    scored = bm25_scores(docs, queries, id_col=id_col, text_col=text_col,
                         **kw)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col(id_col))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy("query_id", "rank"))

