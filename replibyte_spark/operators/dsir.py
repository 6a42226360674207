"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"): select
raw-corpus documents whose hashed-n-gram profile matches a small target
corpus, by importance weights between two bag-of-hashed-n-grams models.

The published method, restated set-at-a-time:

1. **Features** — unigrams + bigrams of the shared lowercased-whitespace
   tokenizer, hashed into ``m`` buckets (the paper's hashed n-gram
   generative model).  One md5-based hash (operators/dedup.py's
   ``base_hash_sql`` family) keeps both engines bit-identical.
2. **Fit** — bucket count vectors over the target corpus (``ct``, total
   ``T``) and the raw corpus (``cr``, total ``R``), Laplace-smoothed to
   probabilities ``p[b] = (ct[b]+1)/(T+m)`` and ``q[b] = (cr[b]+1)/(R+m)``
   — every numerator and denominator an exact integer.
3. **Weights** — per raw document x with bucket counts n[b] (N total):

       log w(x) = Σ_b n[b]·(ln p[b] − ln q[b])
                = Σ_b n[b]·(ln(ct[b]+1) − ln(cr[b]+1))
                  + N·(ln(R+m) − ln(T+m))

   The per-bucket sum is a token-sorted LEFT FOLD (the lm.py
   determinism convention); every ``ln`` argument is an exact integer
   in both engines, so the doubles agree.
4. **Resample** — Gumbel-top-k: key = log w + g where
   ``g = −ln(−ln(u))`` and ``u`` is a seeded md5-derived uniform in
   (0,1) per document — sampling without replacement proportionally to
   the softmax of the weights, deterministic across engines, retries
   and partitions (the repo-wide seeded-hash randomness convention;
   the paper samples the same Gumbel trick with an RNG).

Scale shape: feature extraction is the word-count explode (map-side
partial agg absorbs the Zipf head); the bucket model is AT MOST ``m``
rows by construction, so the scoring join broadcasts under an m-bound
guard (the one quantity that genuinely bounds the build side); top-k is
a TakeOrdered, never a full sort.  At 100 TB: one featurization pass
over target and ONE over raw — the per-doc (id, bucket, cnt) counts are
cached and feed both the raw model and the scoring join (r14; they were
previously recomputed per consumer) — all shuffles keyed by bucket or
doc id.

Reference analogue: none — Replibyte has no data-selection surface;
this sits with the mixing/sampling family (operators/sample.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dialect as D
from ..util import CACHED, fan_out, materialize, reads_cached
from .dedup import MERSENNE31, base_hash_sql, word_ngrams_from_tokens_sql

DEFAULT_BUCKETS = 10_000
#: never force-broadcast a bucket model larger than this many buckets
BROADCAST_BUCKET_LIMIT = 5_000_000


def features_sql(d: str, toks: str) -> str:
    """Unigram + bigram feature list from a STAGED token-array ref."""
    bi = word_ngrams_from_tokens_sql(d, toks, 2)
    if d == D.SPARK:
        return f"concat({toks}, {bi})"
    return f"list_concat({toks}, {bi})"


def bucket_sql(d: str, feat: str, m: int) -> str:
    """Hash one feature string into [0, m)."""
    return f"({base_hash_sql(d, feat)} % {m})"


def _doc_features(docs: DataFrame, id_col: str, text_col: str,
                  m: int) -> DataFrame:
    """(id, bucket, cnt) — per-document hashed feature counts."""
    d = D.SPARK
    toks = D.array_filter(
        d, D.split_ws(d, f"lower({text_col})"), "x -> x <> ''")
    staged = (fan_out(docs.select(F.col(id_col), F.col(text_col)))
              .selectExpr(id_col, f"{toks} AS __toks"))
    feats = staged.selectExpr(
        id_col, f"explode({features_sql(d, '__toks')}) AS feat")
    return (feats
            .selectExpr(id_col, f"{bucket_sql(d, 'feat', m)} AS bucket")
            .groupBy(id_col, "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def bucket_model(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 m: int = DEFAULT_BUCKETS) -> DataFrame:
    """(bucket, n) — corpus-level hashed feature counts (<= m rows)."""
    return (_doc_features(docs, id_col, text_col, m)
            .groupBy("bucket").agg(F.sum("cnt").cast("long").alias("n")))


def dsir_weights(raw_docs: DataFrame, target_docs: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 m: int = DEFAULT_BUCKETS,
                 broadcast_bucket_limit: int = BROADCAST_BUCKET_LIMIT
                 ) -> DataFrame:
    """(id, n_feats, logw) per raw document — the importance log-weight
    of the raw doc under target vs raw hashed-n-gram models, rounded to
    6dp after the deterministic fold.  Documents with zero features
    (empty text) carry no evidence and are omitted — they have no
    feature rows, hence no weight (log w would be exactly 0).

    The per-doc (id, bucket, cnt) frame is persisted so the raw corpus
    is featurized once, unless ``raw_docs`` already reads through a cache
    (:func:`~replibyte_spark.util.reads_cached`): a second persist over a
    cached input measured 6.3 → 8.5-12.2 s on the curation pipeline
    (sf0.1, 32 cores), while a parquet-reading gate measured 3.5 → 3.0 s
    with it."""
    tgt = materialize(bucket_model(target_docs, id_col, text_col, m), CACHED)
    tf = _doc_features(raw_docs, id_col, text_col, m)
    if not reads_cached(raw_docs):
        # totals collect below fills the cache before the scoring join
        # reads it — no concurrent-fill race
        tf = materialize(tf, CACHED)
    raw = materialize(tf.groupBy("bucket")
                      .agg(F.sum("cnt").cast("long").alias("n")), CACHED)
    totals_t = tgt.agg(F.sum("n")).collect()[0][0]
    totals_r = raw.agg(F.sum("n")).collect()[0][0]
    if not totals_t or not totals_r:
        raise ValueError(
            "DSIR needs non-empty feature streams on both sides "
            f"(target={totals_t}, raw={totals_r})")
    T, R = int(totals_t), int(totals_r)

    dlr = (tgt.withColumnRenamed("n", "ct")
           .join(raw.withColumnRenamed("n", "cr"), "bucket", "full_outer")
           .select(
               "bucket",
               (F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1))
                - F.log(F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1)))
               .alias("dlr")))
    # the model side is bounded by m BY CONSTRUCTION — guard on m, the
    # quantity that actually bounds it (the r9 BM25-guard lesson)
    dlr_side = F.broadcast(dlr) if m <= broadcast_bucket_limit else dlr

    # ln of exact integers, inlined — never a precomputed double literal
    const = F.log(F.lit(R + m).cast("double")) \
        - F.log(F.lit(T + m).cast("double"))

    joined = (tf.join(dlr_side, "bucket", "left")
              .withColumn("dlr", F.coalesce(F.col("dlr"), F.lit(0.0))))
    entry = F.struct(F.col("bucket"),
                     (F.col("cnt") * F.col("dlr")).alias("v"))
    per_doc = (joined.groupBy(id_col)
               .agg(F.sum("cnt").cast("long").alias("n_feats"),
                    F.aggregate(F.array_sort(F.collect_list(entry)),
                                F.lit(0.0),
                                lambda acc, e: acc + e["v"])
                    .alias("__llr")))
    logw = F.col("__llr") + F.col("n_feats") * const
    return per_doc.select(F.col(id_col), F.col("n_feats"),
                          F.round(logw, 6).alias("logw"))


def gumbel_sql(d: str, id_expr: str, seed: str) -> str:
    """Seeded standard-Gumbel noise per id: u = (h+1)/2^31 in (0,1) from
    the shared md5 hash family, g = −ln(−ln(u))."""
    h = base_hash_sql(d, f"{D.to_str(d, id_expr)} || {D.q('|' + seed)}")
    u = (f"({D.to_double(d, f'{h} + 1')} / "
         f"{D.to_double(d, str(MERSENNE31 + 1))})")
    return f"(-ln(-ln({u})))"


def build_dsir_model(target_docs: DataFrame, raw_docs: DataFrame,
                     path: str, id_col: str = "doc_id",
                     text_col: str = "text",
                     m: int = DEFAULT_BUCKETS) -> dict:
    """Materialize the fitted DSIR model AS A STORAGE LAYOUT (the ANN /
    minhash index-layout pattern): ``buckets`` parquet holding the
    integer count pair (bucket, ct, cr) — the exact-arithmetic primitive
    the log-ratio derives from — plus a one-row ``meta`` parquet with
    (m, t_total, r_total).  Fit ONCE over the target + raw corpora at
    curation time; every subsequent batch scores against storage without
    re-scanning either corpus — the production shape at 100 TB, where
    the raw corpus is the 100 TB and the model is <= m rows.

    Counts are stored, not log-ratios: ints survive storage bit-exactly
    on any engine; ln() is re-derived in-plan at score time, keeping the
    whole path on the repo's ln-of-exact-integer parity convention."""
    import os

    spark = raw_docs.sparkSession
    tgt = bucket_model(target_docs, id_col, text_col, m)
    raw = bucket_model(raw_docs, id_col, text_col, m)
    buckets = (tgt.withColumnRenamed("n", "ct")
               .join(raw.withColumnRenamed("n", "cr"),
                     "bucket", "full_outer")
               .select("bucket",
                       F.coalesce(F.col("ct"), F.lit(0)).cast("long")
                       .alias("ct"),
                       F.coalesce(F.col("cr"), F.lit(0)).cast("long")
                       .alias("cr")))
    buckets.write.mode("overwrite").parquet(os.path.join(path, "buckets"))
    stored = spark.read.parquet(os.path.join(path, "buckets"))
    tot = stored.agg(F.sum("ct").alias("t"), F.sum("cr").alias("r")) \
        .collect()[0]
    if not tot["t"] or not tot["r"]:
        raise ValueError(
            "DSIR model fit over empty feature streams "
            f"(target={tot['t']}, raw={tot['r']})")
    meta = {"m": m, "t_total": int(tot["t"]), "r_total": int(tot["r"])}
    spark.createDataFrame([meta]).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "meta"))
    return meta


def load_dsir_model(spark, path: str) -> "tuple[DataFrame, dict]":
    import os

    meta_row = spark.read.parquet(os.path.join(path, "meta")).collect()[0]
    meta = {k: int(meta_row[k]) for k in ("m", "t_total", "r_total")}
    return spark.read.parquet(os.path.join(path, "buckets")), meta


def dsir_weights_from_model(batch_docs: DataFrame, path: str,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            broadcast_bucket_limit: int =
                            BROADCAST_BUCKET_LIMIT) -> DataFrame:
    """Score a NEW batch against a stored model — no corpus re-scan.
    Identical arithmetic to :func:`dsir_weights` (the weight of a doc is
    a pure function of its text and the stored integer counts), so a
    batch drawn from the fitted corpus gets bit-identical weights."""
    spark = batch_docs.sparkSession
    buckets, meta = load_dsir_model(spark, path)
    m, T, R = meta["m"], meta["t_total"], meta["r_total"]
    dlr = buckets.select(
        "bucket",
        (F.log(F.col("ct") + F.lit(1)) - F.log(F.col("cr") + F.lit(1)))
        .alias("dlr"))
    dlr_side = F.broadcast(dlr) if m <= broadcast_bucket_limit else dlr
    const = F.log(F.lit(R + m).cast("double")) \
        - F.log(F.lit(T + m).cast("double"))
    tf = _doc_features(batch_docs, id_col, text_col, m)
    joined = (tf.join(dlr_side, "bucket", "left")
              .withColumn("dlr", F.coalesce(F.col("dlr"), F.lit(0.0))))
    entry = F.struct(F.col("bucket"),
                     (F.col("cnt") * F.col("dlr")).alias("v"))
    per_doc = (joined.groupBy(id_col)
               .agg(F.sum("cnt").cast("long").alias("n_feats"),
                    F.aggregate(F.array_sort(F.collect_list(entry)),
                                F.lit(0.0),
                                lambda acc, e: acc + e["v"])
                    .alias("__llr")))
    logw = F.col("__llr") + F.col("n_feats") * const
    return per_doc.select(F.col(id_col), F.col("n_feats"),
                          F.round(logw, 6).alias("logw"))


def dsir_select_from_model(batch_docs: DataFrame, path: str, k: int,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           seed: str = "dsir") -> DataFrame:
    """Gumbel-top-k over stored-model weights (see dsir_select)."""
    w = dsir_weights_from_model(batch_docs, path, id_col, text_col)
    key = F.round(
        F.col("logw") + F.expr(gumbel_sql(D.SPARK, id_col, seed)), 6)
    return (w.withColumn("key", key)
            .orderBy(F.col("key").desc(), F.col(id_col))
            .limit(k))


def dsir_oracle_ctes(table: str, target_where: str, m: int,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> str:
    """DuckDB CTE chain mirroring :func:`dsir_weights` relationally over
    ``table`` (a base table or prior CTE) with the target corpus defined
    by ``target_where`` (a boolean SQL predicate over the table's
    columns); terminal CTE ``dsir_w`` has (id, n_feats, logw).  Totals
    are scalar subqueries — the same exact integers the Spark side
    collects and inlines, so the ln() arguments agree."""
    d = D.DUCK
    toks = D.array_filter(
        d, D.split_ws(d, f"lower({text_col})"), "x -> x <> ''")
    b = bucket_sql(d, "feat", m)
    return f"""
dsir_tok AS (
  SELECT {id_col}, ({target_where}) AS is_target, {toks} AS toks
  FROM {table}),
dsir_feat AS (
  SELECT {id_col}, is_target, unnest({features_sql(d, 'toks')}) AS feat
  FROM dsir_tok),
dsir_tf AS (
  SELECT {id_col}, is_target, {b} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM dsir_feat GROUP BY {id_col}, is_target, {b}),
dsir_btgt AS (
  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS ct FROM dsir_tf
  WHERE is_target GROUP BY bucket),
dsir_braw AS (
  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cr FROM dsir_tf
  GROUP BY bucket),
dsir_tot AS (
  SELECT (SELECT sum(ct) FROM dsir_btgt) AS t_total,
         (SELECT sum(cr) FROM dsir_braw) AS r_total),
dsir_dlr AS (
  SELECT coalesce(dsir_btgt.bucket, dsir_braw.bucket) AS bucket,
         ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE))
           - ln(CAST(coalesce(cr, 0) + 1 AS DOUBLE)) AS dlr
  FROM dsir_btgt FULL OUTER JOIN dsir_braw
    ON dsir_btgt.bucket = dsir_braw.bucket),
dsir_perdoc AS (
  SELECT t.{id_col}, CAST(sum(t.cnt) AS BIGINT) AS n_feats,
         list_reduce(
           list(t.cnt * coalesce(d.dlr, 0.0e0) ORDER BY t.bucket),
           (a, b) -> a + b) AS llr
  FROM dsir_tf t LEFT JOIN dsir_dlr d ON t.bucket = d.bucket
  GROUP BY t.{id_col}),
dsir_w AS (
  SELECT {id_col}, n_feats,
         round(llr + n_feats
               * (ln(CAST(r_total + {m} AS DOUBLE))
                  - ln(CAST(t_total + {m} AS DOUBLE))), 6) AS logw
  FROM dsir_perdoc, dsir_tot)
"""


def dsir_select(raw_docs: DataFrame, target_docs: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                m: int = DEFAULT_BUCKETS, seed: str = "dsir",
                broadcast_bucket_limit: int = BROADCAST_BUCKET_LIMIT
                ) -> DataFrame:
    """Top-k raw documents by Gumbel-perturbed importance weight —
    sampling without replacement ∝ softmax(log w), deterministically.
    Returns (id, n_feats, logw, key) — join back on the id for payload
    columns (keeps the scored frame narrow for the TakeOrdered)."""
    w = dsir_weights(raw_docs, target_docs, id_col, text_col, m,
                     broadcast_bucket_limit)
    key = F.round(
        F.col("logw") + F.expr(gumbel_sql(D.SPARK, id_col, seed)), 6)
    return (w.withColumn("key", key)
            .orderBy(F.col("key").desc(), F.col(id_col))
            .limit(k))
