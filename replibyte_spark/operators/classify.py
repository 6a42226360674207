"""Model-based document classification — multinomial Naive Bayes.

The model-based filter is the curation component the heuristic metrics in
functions/text.py cannot replace: public pipelines (CCNet's fastText
language ID, DCLM / FineWeb-edu's quality classifiers) train a linear text
classifier and keep/route documents by its prediction.  This module
restates that component as multinomial Naive Bayes, deliberately:

- **Training is pure counting** — one word-count-shaped aggregation
  (token, label) → n.  Map-side partial aggregation absorbs the Zipf head
  before the shuffle, exactly like :func:`~.lm.train_unigram_lm`; there is
  no gradient loop, no float accumulation across partitions, so the
  trained model is BIT-DETERMINISTIC at any scale and parallelism.
- **Scoring is a broadcast join + deterministic fold** — per-document
  log-likelihoods under add-k smoothing, summed as a sorted LEFT FOLD
  (the :mod:`~.lm` trick) so Spark and the DuckDB oracle agree to the
  last bit.  An SGD-trained dense model (true fastText) has neither
  property: its training is order-sensitive float math that no SQL oracle
  can replay.

Scoring algebra (why the join only touches MATCHED (token, class) pairs):
for document d with tokens t and class c under add-k smoothing,

    score(d, c) = ln P(c) + Σ_t tf_t · ln((n_{t,c} + k) / denom_c)
    denom_c     = total_c + k·(vocab + 1)

Split each term against the unseen-token floor ln(k / denom_c):

    score(d, c) = ln P(c) + |d|·ln(k / denom_c)
                  + Σ_{t seen in c} tf_t · (ln(n_{t,c} + k) − ln k)

The first two terms need only per-class scalars and the document length —
no join.  The correction sum is nonzero only where the model HAS a row, so
the expensive part is a join of (doc, token, tf) against the model on the
token key: distinct-pair granularity, broadcastable while the model is
small, and the unseen-token mass costs nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import dialect as D
from ..functions import text as T
from ..util import CACHED, materialize
from .lm import _tokens


def train_naive_bayes(docs: DataFrame, label_col: str = "lang",
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(label, token, n) token-occurrence counts per class — the entire
    model.  One aggregation over the labeled corpus (lowercased
    whitespace tokens, the shared tokenizer); rows with a NULL label are
    excluded (they would otherwise form a phantom class).

    Model size is vocab × classes-that-saw-the-token rows, corpus-
    independent — web-scale corpora still produce a vocabulary-bounded
    model, which is what makes the scoring join broadcastable."""
    labeled = docs.filter(F.col(label_col).isNotNull())
    return (_tokens(labeled.select(F.col(label_col).cast("string")
                                   .alias("label"), F.col(text_col)),
                    "label", text_col)
            .groupBy("label", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def class_priors(docs: DataFrame, label_col: str = "lang") -> DataFrame:
    """(label, n_docs) over the training corpus — the prior counts.
    Kept as exact integers; the scorer takes the log ratio itself so both
    engines compute the same doubles from the same integers."""
    return (docs.filter(F.col(label_col).isNotNull())
            .groupBy(F.col(label_col).cast("string").alias("label"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


def nb_class_scores(docs: DataFrame, model: DataFrame, priors: DataFrame,
                    k: float = 0.5, id_col: str = "doc_id",
                    text_col: str = "text",
                    broadcast_vocab_limit: int = 5_000_000) -> DataFrame:
    """(id, label, score) — every document scored under every class:
    score = ln P(c) + Σ tf·ln p(token|c), add-k smoothed, rounded to 6dp
    after the deterministic fold.

    The class-level scalars (prior count, per-class token total, global
    vocabulary) are collected — bounded by the NUMBER OF CLASSES, not the
    corpus — and inlined as exact integer literals, so each engine
    derives the identical log scalars from the identical integers.  The
    model joins with an explicit broadcast hint only while its vocabulary
    stays under `broadcast_vocab_limit` (the :mod:`~.lm` guard); beyond
    that AQE plans a shuffled token-key join.

    The model frame is persisted here because the stats collect below
    and the scoring join share it (as in perplexity_scores).

    A document with NO tokens (empty/whitespace/NULL text) still gets a
    row per class: its score is the prior term alone — argmax degrades to
    the majority class instead of silently dropping the document."""
    model = materialize(model, CACHED)
    stats = {r["label"]: int(r["t"])
             for r in model.groupBy("label")
             .agg(F.sum("n").alias("t")).collect()}
    vocab = model.select("token").distinct().count()
    prior_rows = priors.collect()
    if not prior_rows:
        raise ValueError("naive-Bayes priors are empty (no labeled "
                         "training documents) — cannot score against an "
                         "untrained model")
    total_docs = sum(int(r["n_docs"]) for r in prior_rows)

    # doc × class expansion as a Generate over an INLINED literal class
    # array (classes are bounded by contract — the ivf_topk probe trick):
    # no class-side join at all, where a tiny-table crossJoin still
    # compiled to BroadcastNestedLoopJoin.  The struct carries EXACT
    # INTEGERS (prior count, class token total); ln(prior/total) and
    # ln(k/denom) are computed by each engine from the same integer
    # literals (never shipped as pre-computed doubles), the oracle's
    # policy too — see the module docstring for the algebra.
    cls_arr = "array(" + ", ".join(
        f"struct({D.q(str(r['label']))} AS label, "
        f"{int(r['n_docs'])}L AS n_docs, "
        f"{stats.get(r['label'], 0)}L AS total)"
        for r in prior_rows) + ")"
    # |d| is a PROJECTION riding the doc scan (token count of the split
    # array), not an aggregate of the exploded token stream — the r9 plan
    # fix: deriving it from tf duplicated the whole explode+groupBy
    # subtree (ReuseExchange did not dedupe it) and cost an extra shuffle
    base = (docs
            .select(F.col(id_col), F.expr(
                f"coalesce(CAST({T.token_count_sql(D.SPARK, text_col)} "
                f"AS BIGINT), 0L)").alias("n_tokens"))
            .select(F.col(id_col), "n_tokens",
                    F.explode(F.expr(cls_arr)).alias("c"))
            .select(F.col(id_col), "n_tokens",
                    F.col("c.label").alias("label"),
                    F.expr(f"ln(c.n_docs / CAST({total_docs} AS DOUBLE))")
                    .alias("lp"),
                    F.expr(f"ln({k!r}D / (c.total + {k!r}D * "
                           f"{vocab + 1}))").alias("lnu")))

    tf = (_tokens(docs, id_col, text_col)
          .groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    model_side = (F.broadcast(model) if vocab <= broadcast_vocab_limit
                  else model)
    # matched correction term: tf·(ln(n+k) − ln k) for (token, class)
    # pairs the model has seen; sorted fold per (doc, class) for the
    # bit-stable sum (bounded by the doc's own vocabulary)
    entry = F.struct(
        F.col("token"),
        (F.col("tf") * (F.expr(f"ln(n + {k!r}D)") -
                        F.expr(f"ln({k!r}D)"))).alias("v"))
    corr = (tf.join(model_side, on="token")
            .groupBy(id_col, "label")
            .agg(F.aggregate(F.array_sort(F.collect_list(entry)),
                             F.lit(0.0), lambda acc, e: acc + e["v"])
                 .alias("corr")))
    return (base.join(corr, on=[id_col, "label"], how="left")
            .select(F.col(id_col), F.col("label"),
                    F.round(F.col("lp") + F.col("n_tokens") * F.col("lnu")
                            + F.coalesce(F.col("corr"), F.lit(0.0)),
                            6).alias("score")))


def nb_classify(docs: DataFrame, model: DataFrame, priors: DataFrame,
                k: float = 0.5, id_col: str = "doc_id",
                text_col: str = "text",
                broadcast_vocab_limit: int = 5_000_000) -> DataFrame:
    """(id, pred_label, score) — argmax class per document, deterministic
    tie-break on ascending label (explicit rank window, the policy both
    engines state identically — never engine-default arg_max)."""
    scores = nb_class_scores(docs, model, priors, k, id_col, text_col,
                             broadcast_vocab_limit)
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("label"))
    return (scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col(id_col), F.col("label").alias("pred_label"),
                    "score"))
