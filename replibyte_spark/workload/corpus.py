"""The composite training-corpus pipeline — the engine's flagship use-case,
every stage an operator this repo already gates individually:

    quality-score → filter → MinHash near-dup removal (canonical survivor
    per cluster) → token counting → per-source sequence packing

One DataFrame plan end to end: Catalyst fuses the scoring projection into
the scan, the dedup is the bucketed LSH path (never quadratic), and packing
is one per-group window — no driver-side loops between stages.  The oracle
composes the SAME CTE fragments the individual gates use, so the composite
is value-checked end to end, not just its parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from ..functions import text as T
from ..operators import dedup as DD
from ..operators.grouped import pack_token_budget
from ..util import CACHED, fan_out, materialize
from . import Query, register
from .dedup_queries import BANDS, JACCARD_T, N_HASHES, NGRAM, _minhash_ctes
from .text_queries import PACK_BUDGET

QUALITY_FLOOR = 0.5


def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → curated, deduplicated, packed corpus.

    Returns one row per surviving doc: (doc_id, source, quality, n_tokens,
    bin_id).  Near-dup pairs are computed AMONG the quality-filtered docs
    (a low-quality near-dup of a kept doc must not knock the kept doc out).
    """
    d = D.SPARK
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.selectExpr(
        "doc_id", "source", "text",
        f"round({T.quality_score_sql(d, 'text')}, 6) AS quality",
        f"CAST({T.token_count_sql(d, 'text')} AS BIGINT) AS n_tokens",
    )
    # The shared frame is persisted PRE-filter (r12 — it was `kept`,
    # post-filter, through r11): Catalyst pushes the quality FILTER below
    # fan_out's round-robin exchange (PushPredicateThroughNonJoin treats
    # sinking a filter under an Exchange as always-beneficial), so the
    # whole quality-score predicate — the most expensive expression in
    # the pipeline — evaluated on the ONE pre-repartition scan partition,
    # single-task.  The scoring PROJECTION stays above the exchange
    # (no rule moves non-pruning projects through Exchange), so
    # persisting `scored` makes the cache the pushdown barrier: scoring
    # runs once, parallel, and the filter becomes a cached-column
    # compare each consumer applies for free.  Interleaved same-window
    # A/B at sf0.1: 8.29→5.34 s and 5.65→4.74 s.
    # Cache-manager persist + eager fill — NOT localCheckpoint: blocks
    # stay reclaimable by clearCache (round 4's checkpoint here pinned a
    # MapPartitionsRDD past every cleanup bench.py could issue).  Eager
    # fill via noop WRITE, not count(): the write streams each cached
    # batch straight to the null sink with no aggregation plan on top
    # (r6 A/B, SCALE.md).
    scored = materialize(scored, CACHED)
    scored.write.mode("overwrite").format("noop").save()
    kept = scored.filter(F.col("quality") >= QUALITY_FLOOR)
    pairs = DD.minhash_near_dup_pairs(kept, "doc_id", "text",
                                      threshold=JACCARD_T,
                                      n_hashes=N_HASHES, bands=BANDS, n=NGRAM)
    survivors = DD.keep_canonical(kept, pairs, "doc_id").drop("text")
    packed = pack_token_budget(survivors, "source", "doc_id",
                               "n_tokens", PACK_BUDGET)
    return (packed.select("doc_id", "source", "quality", "n_tokens",
                          F.col("bin_id").cast("long").alias("bin_id"))
            .orderBy("source", "doc_id"))


def _corpus_oracle() -> str:
    d = D.DUCK
    return f"""
WITH RECURSIVE kept AS (
  SELECT doc_id, source, text,
         round({T.quality_score_sql(d, 'text')}, 6) AS quality,
         CAST({T.token_count_sql(d, 'text')} AS BIGINT) AS n_tokens
  FROM documents
  WHERE round({T.quality_score_sql(d, 'text')}, 6) >= {QUALITY_FLOOR}
), {_minhash_ctes(src='kept')}, nodes AS (
  SELECT id_a AS n FROM nd UNION SELECT id_b FROM nd
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM nd UNION ALL SELECT id_b, id_a FROM nd
), reach(node, root) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.root < e.dst
), labels AS (
  SELECT node, min(root) AS cluster_id FROM reach GROUP BY node
), surv AS (
  SELECT doc_id, source, quality, n_tokens FROM kept
  WHERE doc_id NOT IN (SELECT node FROM labels WHERE node <> cluster_id)
), p AS (
  SELECT doc_id, source, quality, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS prefix
  FROM surv
)
SELECT doc_id, source, quality, n_tokens,
       CAST(floor(prefix / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
FROM p ORDER BY source, doc_id
"""


# driver-visible (round-4 promotion: the engine's flagship query deserves a
# driver row; the registry slot came from folding the two salted-skew gates
# into `salted_skew_ops`)
register(Query("training_corpus_pipeline", training_corpus_pipeline,
               _corpus_oracle(), tags=("text", "dedup", "pipeline"),
               bench=True))


# --- v4 (late r10): published filters → model-based selection ---------------
# repetition rules ∧ C4 page rules gate the corpus, then DSIR picks the
# documents whose hashed-n-gram profile matches a target domain — the
# modern curation shape (filter for quality, SELECT for distribution)
# composed from three operators this round gates individually.

V4_M = 2048        # DSIR hash buckets
V4_K = 64          # selected docs
V4_TARGET = "src3"
V4_SEED = "v4"


def curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.c4 import c4_flags
    from ..operators.dsir import dsir_select
    from ..operators.repetition import repetition_flags
    from .text_queries import _C4_GATE_PARAMS

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # published separators here (unlike the word-segment gate): on this
    # corpus the differential repetition signal is the top-3/4-gram
    # rules; the word-segment line rules would empty the corpus
    rep = repetition_flags(docs)
    both = c4_flags(rep, **_C4_GATE_PARAMS)
    # persist + materialize the FLAGGED frame, then filter FROM CACHE:
    # DSIR reads the survivors four times (target model, raw model,
    # scoring features, payload join), and filtering the lazy frame
    # would push the pass-conjunction down through the staged flag
    # projections — Catalyst inlines the per-rule expressions into one
    # predicate whose interpreted higher-order functions re-evaluate
    # per row at ~2× the staged projection cost (and 10× before the
    # repetition _let hardening).  Above an InMemoryRelation the filter
    # is a cached-boolean scan.  (r10 persisted the filtered survivors
    # for the same four-reads reason; the flagged frame is the same
    # corpus plus booleans.)
    flagged = materialize(both.select("doc_id", "source", "text",
                                      "repetition_pass", "c4_pass"), CACHED)
    flagged.write.mode("overwrite").format("noop").save()
    surv = (flagged.filter(F.col("repetition_pass") & F.col("c4_pass"))
            .select("doc_id", "source", "text"))
    target = surv.filter(F.col("source") == V4_TARGET)
    sel = dsir_select(surv, target, k=V4_K, m=V4_M, seed=V4_SEED)
    return (sel.join(surv.select("doc_id", "source"), "doc_id")
            .select("doc_id", "source", "n_feats", "logw", "key")
            .orderBy(F.col("key").desc(), "doc_id"))


def _curation_v4_oracle() -> str:
    from ..functions.c4 import c4_flag_sqls, c4_stats_sql, kept_lines_sql
    from ..operators import repetition as R
    from ..operators.dsir import dsir_oracle_ctes, gumbel_sql
    from .text_queries import _C4_GATE_PARAMS

    d = D.DUCK
    rep_ctes = R.ngram_stats_oracle_ctes()
    stat_cols = (["n_words", "word_chars"]
                 + [f"top{n}_chars" for n in R.TOP_NS]
                 + [f"dup{n}_chars" for n in R.DUP_NS])
    rep_flags = {
        **R.seg_flag_sqls(R.seg_rep_stats_sql(d, "d.text", "\n"),
                          "line"),
        **R.seg_flag_sqls(R.seg_rep_stats_sql(d, "d.text", "\n\n"),
                          "para"),
        **R.ngram_flag_sqls({c: f"s.{c}" for c in stat_cols})}
    p = _C4_GATE_PARAMS
    kept = kept_lines_sql(d, "d.text", p["terminal_punct"],
                          p["min_words_per_line"])
    c4 = c4_flag_sqls(
        c4_stats_sql(d, "d.text", kept=kept,
                     terminal_punct=p["terminal_punct"],
                     bad_words=p["bad_words"]),
        p["min_sentences"])
    all_pass = " AND ".join([*rep_flags.values(), *c4.values()])
    dsir = dsir_oracle_ctes("v4_surv", f"source = {D.q(V4_TARGET)}",
                            V4_M)
    g = gumbel_sql(d, "w.doc_id", V4_SEED)
    return f"""
WITH {rep_ctes.strip()},
v4_surv AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN rep_stats s ON d.doc_id = s.doc_id
  WHERE {all_pass}),
{dsir.strip()}
SELECT w.doc_id, s.source, w.n_feats, w.logw,
       round(w.logw + {g}, 6) AS key
FROM dsir_w w JOIN v4_surv s ON w.doc_id = s.doc_id
ORDER BY key DESC, w.doc_id LIMIT {V4_K}
"""


# bench=True: the composed filter→select plan (repetition explode + C4
# projection + two DSIR passes) — the end-to-end curation headline
# driver-gated since round 11 (swapped in for customers_without_orders):
# the end-to-end curation headline belongs in the driver window
register(Query("curation_pipeline_v4", curation_pipeline_v4,
               _curation_v4_oracle(),
               tags=("text", "quality", "sampling", "pipeline"),
               bench=True))
