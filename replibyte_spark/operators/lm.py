"""Unigram language-model perplexity — the CCNet-style statistical quality
signal (Wenzek et al. 2020 score with a KenLM; this is the unigram
restatement that stays inside pure SQL and is therefore oracle-checkable).

Two-phase, both set-at-a-time:

1. :func:`train_unigram_lm` — ONE aggregation over the training corpus:
   token → count.  At 100 TB this is the classic word-count shape
   (map-side partial agg absorbs the Zipf head before the shuffle; "the"
   arrives at its reducer as one partial per map task, not one row per
   occurrence).
2. :func:`perplexity_scores` — per-document cross-entropy under the
   trained model with add-k smoothing, unseen tokens included.  The doc
   token stream is reduced to (doc, token, tf) BEFORE the frequency join
   — the join touches distinct (doc, token) pairs, not raw occurrences —
   and the frequency table broadcasts when small (vocab-sized, not
   corpus-sized; for web-scale vocabularies AQE falls back to a shuffle
   join on the token key with skew handling).

The score ranks fluent in-distribution text low (familiar tokens, low
cross-entropy) and gibberish/out-of-domain text high — the filter
dimension the length/punct/stopword heuristics in functions/text.py
cannot see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dialect as D
from ..util import CACHED, fan_out, materialize


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = F.expr(D.split_ws(D.SPARK, f"lower({text_col})"))
    return (fan_out(docs.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), F.explode(toks).alias("token"))
            .filter(F.col("token") != ""))


def train_unigram_lm(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """token → count over the training corpus (lowercased, whitespace
    tokens — the same tokenizer every other text operator uses)."""
    return (_tokens(docs, id_col, text_col)
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def perplexity_scores(docs: DataFrame, lm: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: float = 0.5,
                      broadcast_vocab_limit: int = 5_000_000) -> DataFrame:
    """(id, n_tokens, cross_entropy, perplexity) per document under the
    unigram model `lm` (a train_unigram_lm frame) with add-k smoothing:

        p(tok) = (count(tok) + k) / (total + k * (vocab + 1))

    The +1 in the vocabulary term is the single unseen-token class, so
    out-of-vocabulary tokens get a proper nonzero probability instead of
    blowing up the entropy.  cross_entropy = mean(-ln p) over the doc's
    tokens (occurrences, not types); perplexity = exp(cross_entropy).
    Rounded to 6dp AFTER the deterministic per-doc fold so the DuckDB
    oracle reproduces the values.

    The model frame is persisted here (cache-manager persist, bounded by
    vocabulary size) — the stats collect below fills the cache, so the
    scoring join reuses it instead of re-running the training word-count
    a second time.  The returned plan reads the cache, so the caller's
    released() scope frees it (util.materialize).  The frequency table
    gets an explicit broadcast hint only while `vocab <=
    broadcast_vocab_limit`; beyond that the join is left to the planner —
    a forced broadcast of a web-scale vocabulary would fail outright
    instead of falling back to a shuffle join."""
    lm = materialize(lm, CACHED)
    stats = lm.agg(F.sum("n").alias("total"),
                   F.count(F.lit(1)).alias("vocab")).collect()[0]
    if stats["total"] is None:
        raise ValueError(
            "unigram LM has an empty vocabulary (training corpus had no "
            "tokens) — cannot score against it")
    total, vocab = int(stats["total"]), int(stats["vocab"])
    denom = float(total) + k * (vocab + 1)
    lm_side = F.broadcast(lm) if vocab <= broadcast_vocab_limit else lm
    # (doc, token, tf): the shuffle/join unit is distinct pairs, not the
    # raw occurrence stream
    tf = (_tokens(docs, id_col, text_col)
          .groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    joined = tf.join(lm_side, on="token", how="left") \
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    nll = F.col("tf") * -F.log((F.col("n") + F.lit(k)) / F.lit(denom))
    # deterministic fold: floating summation is order-sensitive, and both
    # engines leave aggregation order unspecified — so the per-doc sum is
    # a LEFT FOLD over the (token-sorted) contribution list, bit-identical
    # in Spark and DuckDB (the refine_centroids deterministic-mean trick).
    # The collect_list is bounded by the doc's own vocabulary — the same
    # bound as the text column itself, safe at any corpus scale.
    entry = F.struct(F.col("token"), nll.alias("v"))
    per_doc = (joined.groupBy(id_col)
               .agg(F.sum("tf").cast("long").alias("n_tokens"),
                    F.aggregate(F.array_sort(F.collect_list(entry)),
                                F.lit(0.0),
                                lambda acc, e: acc + e["v"])
                    .alias("__nll")))
    ce = F.col("__nll") / F.col("n_tokens")
    return (per_doc.select(
        F.col(id_col), F.col("n_tokens"),
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity")))


# ---------------------------------------------------------------------------
# bigram LM (round 9) — one order up from the unigram restatement
# ---------------------------------------------------------------------------

def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, gram) one row per token TRANSITION: 'prev next' strings from
    the lowercased whitespace token stream (the dedup module's 2-gram
    builder over the lm tokenizer — tokens never contain whitespace, so
    the space join is unambiguous)."""
    from ..operators.dedup import word_ngrams_from_tokens_sql

    toks = D.split_ws(D.SPARK, f"lower({text_col})")
    with_toks = (fan_out(docs.select(F.col(id_col), F.col(text_col)))
                 .select(F.col(id_col), F.expr(toks).alias("__toks")))
    grams = F.expr(word_ngrams_from_tokens_sql(D.SPARK, "__toks", 2))
    return (with_toks.select(F.col(id_col), F.explode(grams).alias("gram"))
            .filter(~F.col("gram").rlike("^ | $|^$")))


def train_bigram_lm(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(gram, prev, n) bigram-transition counts over the training corpus —
    the CCNet quality signal one order above :func:`train_unigram_lm`
    (the real thing is a 5-gram Kneser-Ney KenLM; add-k bigrams are the
    restatement whose training AND scoring stay exactly SQL-replayable,
    ranking in the same direction).  One word-count-shaped aggregation;
    `prev` (the conditioning token) is carried as a column so the scorer
    can aggregate context totals without re-splitting."""
    return (_bigrams(docs, id_col, text_col)
            .groupBy("gram")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("prev", F.expr("substring_index(gram, ' ', 1)")))


def bigram_perplexity_scores(docs: DataFrame, lm: DataFrame,
                             id_col: str = "doc_id", text_col: str = "text",
                             k: float = 0.5,
                             broadcast_vocab_limit: int = 5_000_000
                             ) -> DataFrame:
    """(id, n_transitions, cross_entropy, perplexity) per document under
    the bigram model with add-k smoothing:

        p(next | prev) = (c(prev next) + k) / (c(prev ·) + k·(vocab + 1))

    where c(prev ·) is the count of transitions LEAVING `prev` and vocab
    the distinct next-token count — an unseen context degrades to the
    uniform 1/(vocab+1) floor, an unseen transition from a known context
    to k/denom.  Documents with fewer than two tokens have no transitions
    and report NULL entropy (undefined, not 0).  Same determinism
    contract as :func:`perplexity_scores` (sorted fold, rounded after);
    same persisted model frame; same guarded broadcast (model and context
    tables are vocabulary-bounded, hinted only under
    `broadcast_vocab_limit`)."""
    lm = materialize(lm, CACHED)
    ctx = (lm.groupBy("prev").agg(F.sum("n").alias("c")))
    stats = lm.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.countDistinct(F.expr("substring_index(gram, ' ', -1)"))
        .alias("vocab")).collect()[0]
    if not int(stats["pairs"]):
        raise ValueError(
            "bigram LM is empty (training corpus had no token "
            "transitions) — cannot score against it")
    vocab = int(stats["vocab"])
    denom_tail = f"{k!r}D * {vocab + 1}"
    small = int(stats["pairs"]) <= broadcast_vocab_limit
    lm_side = F.broadcast(lm) if small else lm
    ctx_side = F.broadcast(ctx) if small else ctx
    tf = (_bigrams(docs, id_col, text_col)
          .groupBy(id_col, "gram")
          .agg(F.count(F.lit(1)).cast("long").alias("tf"))
          .withColumn("prev", F.expr("substring_index(gram, ' ', 1)")))
    joined = (tf.join(lm_side.select("gram", "n"), on="gram", how="left")
              .join(ctx_side, on="prev", how="left")
              .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
              .withColumn("c", F.coalesce(F.col("c"), F.lit(0))))
    nll = (F.col("tf") *
           -F.log((F.col("n") + F.lit(k)) /
                  (F.col("c") + F.expr(denom_tail))))
    entry = F.struct(F.col("gram"), nll.alias("v"))
    per_doc = (joined.groupBy(id_col)
               .agg(F.sum("tf").cast("long").alias("n_transitions"),
                    F.aggregate(F.array_sort(F.collect_list(entry)),
                                F.lit(0.0),
                                lambda acc, e: acc + e["v"])
                    .alias("__nll")))
    ce = F.col("__nll") / F.col("n_transitions")
    scored = per_doc.select(
        F.col(id_col), F.col("n_transitions"),
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"))
    # transition-less docs (0 or 1 tokens) still get a row — NULL metrics
    base = docs.select(id_col)
    return (base.join(scored, on=id_col, how="left")
            .withColumn("n_transitions",
                        F.coalesce(F.col("n_transitions"), F.lit(0))))
