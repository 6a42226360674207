"""Gate queries for text analysis (lang-ID, quality, token counts,
fingerprints) over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from ..functions import text as T
from . import Query, register


def _doc_metrics_exprs(d: str, toks: str | None = None,
                       ltoks: str | None = None) -> list[str]:
    return [
        "doc_id",
        f"{T.token_count_sql(d, 'text', toks)} AS n_tokens",
        f"{T.char_count_sql(d, 'text')} AS n_chars_actual",
        f"{T.punct_ratio_sql(d, 'text')} AS punct_ratio",
        f"{T.stopword_ratio_sql(d, 'text', None, toks, ltoks)} AS stopword_ratio",
        f"{T.avg_word_len_sql(d, 'text', toks)} AS avg_word_len",
        f"{T.quality_score_sql(d, 'text', toks, ltoks)} AS quality",
        f"{T.lang_guess_sql(d, 'text', ltoks)} AS lang_guess",
        f"{T.fingerprint_sql(d, 'text')} AS fingerprint",
        f"{T.rolling_hash_sql(d, 'text', ltoks=ltoks)} AS rolling_hash",
    ]


def doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..util import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # tokenize ONCE into columns; every metric then indexes the arrays
    # (the oracle keeps the inline splits — identical values, slower oracle)
    sp = D.SPARK
    with_toks = docs.selectExpr(
        "doc_id", "text",
        f"{D.split_ws(sp, 'text')} AS __toks",
        f"{D.split_ws(sp, 'lower(text)')} AS __ltoks",
    )
    return (with_toks
            .selectExpr(*_doc_metrics_exprs(sp, "__toks", "__ltoks"))
            .orderBy("doc_id"))


DOC_METRICS_ORACLE = (
    "SELECT " + ", ".join(_doc_metrics_exprs(D.DUCK))
    + " FROM documents ORDER BY doc_id"
)

register(Query("doc_text_metrics", doc_metrics, DOC_METRICS_ORACLE,
               tags=("text",), bench=True))


def quality_filter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation pass: per (source, lang_guess) doc counts and mean
    quality, keeping only docs above a quality floor.

    The floor lives INSIDE the aggregates (count/avg over `kept` docs +
    a HAVING on the kept count), not as a pre-agg `.filter(quality >=
    0.5)`: Catalyst sinks a deterministic filter below fan_out's
    exchange (PushPredicateThroughNonJoin), which re-inlines the whole
    quality-score expression into a predicate evaluated single-task on
    the one-split scan — the r12 corpus-pipeline trap, verified present
    in this gate's executed plan during the r13 sweep.  Aggregate-side
    the scoring stays one wide projection and dropped docs simply don't
    count; groups with zero kept docs are removed by the HAVING, so the
    result is row-identical to the filtered form."""
    from ..util import fan_out

    d = D.SPARK
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.selectExpr(
        "source",
        f"{T.lang_guess_sql(d, 'text')} AS lang_guess",
        f"{T.quality_score_sql(d, 'text')} AS quality",
    )
    kept = F.col("quality") >= 0.5
    return (scored
            .groupBy("source", "lang_guess")
            .agg(F.sum(F.when(kept, 1).otherwise(0)).cast("long")
                 .alias("n_docs"),
                 F.round(F.avg(F.when(kept, F.col("quality"))), 6)
                 .alias("avg_quality"))
            .filter(F.col("n_docs") > 0)
            .orderBy("source", "lang_guess"))


_dq = D.DUCK
QUALITY_FILTER_ORACLE = f"""
WITH scored AS (
  SELECT source,
         {T.lang_guess_sql(_dq, 'text')} AS lang_guess,
         {T.quality_score_sql(_dq, 'text')} AS quality
  FROM documents
)
SELECT source, lang_guess, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality
FROM scored WHERE quality >= 0.5
GROUP BY source, lang_guess ORDER BY source, lang_guess
"""

register(Query("quality_filter_summary", quality_filter_summary,
               QUALITY_FILTER_ORACLE, tags=("text",)))


def gopher_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher/MassiveText rule set (functions/gopher.py) at
    its published thresholds: per-source pass count and per-rule failure
    counts.  Every rule is an integer cross-multiplication, so the whole
    gate is float-free — the strongest possible parity contract."""
    from ..functions.gopher import GOPHER_RULES, gopher_flags

    docs = load_table(spark, sf_dir, "documents")
    flagged = gopher_flags(docs)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0))
            .cast("long").alias("n_pass")]
    for rule in GOPHER_RULES:
        aggs.append(
            F.sum(F.when(~F.col("gq_" + rule), 1).otherwise(0))
            .cast("long").alias("fail_" + rule))
    return flagged.groupBy("source").agg(*aggs).orderBy("source")


def _gopher_oracle() -> str:
    from ..functions.gopher import (GOPHER_RULES, gopher_flag_sqls,
                                    gopher_stats_sql)

    d = D.DUCK
    stats = gopher_stats_sql(d, "text")
    flags = gopher_flag_sqls(stats)
    flag_cols = ",\n         ".join(
        f"{sql} AS f_{rule}" for rule, sql in flags.items())
    all_pass = " AND ".join(f"f_{r}" for r in GOPHER_RULES)
    fail_aggs = ",\n       ".join(
        f"CAST(sum(CASE WHEN NOT f_{r} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS fail_{r}" for r in GOPHER_RULES)
    return f"""
WITH flagged AS (
  SELECT source,
         {flag_cols}
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN {all_pass} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       {fail_aggs}
FROM flagged GROUP BY source ORDER BY source
"""


# driver-gated since round 11 (swapped in for events_json_extract): the
# published 7-rule quality filter is a first-class pipeline component
register(Query("gopher_quality_summary", gopher_quality_summary,
               _gopher_oracle(), tags=("text", "quality")))


def repetition_filter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher/MassiveText REPETITION rule set
    (operators/repetition.py — the 13 rules the gopher_quality gate's 7
    rules don't cover) at the published thresholds: per-source pass count
    and per-rule failure counts.  All thresholds are integer
    cross-multiplications — float-free parity.

    The fixture text is single-line, so the gate runs the line rules at
    ``line_sep=' '`` (word segments — non-degenerate on this corpus)
    while paragraphs keep the published blank-line split.  Short fixture
    docs (~55 words) legitimately fail the top-n-gram rules — published
    Gopher composes these with the >= 50-word quality rule; the gate
    reports, not filters."""
    from ..operators.repetition import (REPETITION_RULES, repetition_flags)

    docs = load_table(spark, sf_dir, "documents")
    flagged = repetition_flags(docs, line_sep=" ")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("repetition_pass"), 1).otherwise(0))
            .cast("long").alias("n_pass")]
    for rule in REPETITION_RULES:
        aggs.append(
            F.sum(F.when(~F.col("rep_" + rule), 1).otherwise(0))
            .cast("long").alias("fail_" + rule))
    return flagged.groupBy("source").agg(*aggs).orderBy("source")


def _repetition_oracle() -> str:
    from ..operators import repetition as R

    d = D.DUCK
    ctes = R.ngram_stats_oracle_ctes()
    stat_cols = (["n_words", "word_chars"]
                 + [f"top{n}_chars" for n in R.TOP_NS]
                 + [f"dup{n}_chars" for n in R.DUP_NS])
    flags = {**R.seg_flag_sqls(R.seg_rep_stats_sql(d, "d.text", " "),
                               "line"),
             **R.seg_flag_sqls(R.seg_rep_stats_sql(d, "d.text", "\n\n"),
                               "para"),
             **R.ngram_flag_sqls({c: f"s.{c}" for c in stat_cols})}
    flag_cols = ",\n         ".join(
        f"{sql} AS f_{rule}" for rule, sql in flags.items())
    all_pass = " AND ".join(f"f_{r}" for r in R.REPETITION_RULES)
    fail_aggs = ",\n       ".join(
        f"CAST(sum(CASE WHEN NOT f_{r} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS fail_{r}" for r in R.REPETITION_RULES)
    return f"""
WITH {ctes.strip()},
flagged AS (
  SELECT d.source,
         {flag_cols}
  FROM documents d JOIN rep_stats s ON d.doc_id = s.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN {all_pass} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       {fail_aggs}
FROM flagged GROUP BY source ORDER BY source
"""


# DRIVER-GATED (late r10, swapped in for ann_brute_force_topk): the 13
# published repetition rules are a first-class filter family.  bench=True:
# the one r10 text operator whose cost is NOT the scan — a 9-grams-per-
# word explode plus doc-keyed aggregations; the bench row tracks that
# the explode shape stays linear in corpus tokens
register(Query("repetition_filter_summary", repetition_filter_summary,
               _repetition_oracle(), tags=("text", "quality"),
               bench=True))


# fixture-driven C4 parameterization (the synthetic corpus has NO
# sentence punctuation, so the published terminal-punct line rule and
# 5-sentence floor are vacuously all-fail on it): terminal punct disabled,
# kept lines = lines of >= 50 words (differential: 277/500 docs at
# sf0.01), bad-word list seeded with the corpus-rare token 'dup'.
# The published defaults are exercised per-rule in tests/test_c4.py.
_C4_GATE_PARAMS = dict(terminal_punct=None, min_words_per_line=50,
                       min_sentences=1, bad_words=("dup",))


def c4_filter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published C4 cleaning heuristics (functions/c4.py) summarized
    per source: doc and line survival plus per-page-rule failure counts.
    Integer/boolean stats only — float-free parity."""
    from ..functions.c4 import C4_DOC_RULES, c4_flags

    docs = load_table(spark, sf_dir, "documents")
    flagged = c4_flags(docs, **_C4_GATE_PARAMS)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("c4_pass"), 1).otherwise(0))
            .cast("long").alias("n_pass"),
            F.sum("c4_lines_total").cast("long").alias("lines_total"),
            F.sum("c4_lines_kept").cast("long").alias("lines_kept")]
    for rule in C4_DOC_RULES:
        aggs.append(
            F.sum(F.when(~F.col("c4_" + rule), 1).otherwise(0))
            .cast("long").alias("fail_" + rule))
    return flagged.groupBy("source").agg(*aggs).orderBy("source")


def _c4_oracle() -> str:
    from ..functions.c4 import (C4_DOC_RULES, c4_flag_sqls, c4_stats_sql,
                                kept_lines_sql)

    d = D.DUCK
    p = _C4_GATE_PARAMS
    kept = kept_lines_sql(d, "text", p["terminal_punct"],
                          p["min_words_per_line"])
    stats = c4_stats_sql(d, "text", kept=kept,
                         terminal_punct=p["terminal_punct"],
                         bad_words=p["bad_words"])
    flags = c4_flag_sqls(stats, p["min_sentences"])
    flag_cols = ",\n         ".join(
        f"{sql} AS f_{rule}" for rule, sql in flags.items())
    all_pass = " AND ".join(f"f_{r}" for r in C4_DOC_RULES)
    fail_aggs = ",\n       ".join(
        f"CAST(sum(CASE WHEN NOT f_{r} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS fail_{r}" for r in C4_DOC_RULES)
    return f"""
WITH flagged AS (
  SELECT source,
         {stats['n_lines']} AS n_lines,
         {stats['n_kept_lines']} AS n_kept,
         {flag_cols}
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN {all_pass} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(sum(n_lines) AS BIGINT) AS lines_total,
       CAST(sum(n_kept) AS BIGINT) AS lines_kept,
       {fail_aggs}
FROM flagged GROUP BY source ORDER BY source
"""


register(Query("c4_filter_summary", c4_filter_summary,
               _c4_oracle(), tags=("text", "quality")), extra=True)


# --- DSIR importance resampling (r10) ---------------------------------------

_DSIR_M = 4096          # hashed-n-gram buckets (gate-sized; library: 10k)
_DSIR_K = 100
_DSIR_TARGET = "src3"   # the fixture source acting as the target domain
_DSIR_SEED = "dsir"


def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) end to end: treat one fixture source as
    the target domain, weight every document by the hashed-n-gram
    importance log-ratio, and Gumbel-top-k resample 100 docs.  The
    weights are ln-of-exact-integer folds and the noise is seeded md5 —
    deterministic cross-engine to the 6dp the contract rounds to."""
    from ..operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == _DSIR_TARGET)
    return dsir_select(docs, target, k=_DSIR_K, m=_DSIR_M,
                       seed=_DSIR_SEED)


def _dsir_oracle() -> str:
    from ..operators.dsir import dsir_oracle_ctes, gumbel_sql

    d = D.DUCK
    ctes = dsir_oracle_ctes("documents",
                            f"source = {D.q(_DSIR_TARGET)}", _DSIR_M)
    g = gumbel_sql(d, "doc_id", _DSIR_SEED)
    return f"""
WITH {ctes.strip()}
SELECT doc_id, n_feats, logw, round(logw + {g}, 6) AS key
FROM dsir_w ORDER BY key DESC, doc_id LIMIT {_DSIR_K}
"""


# bench=True: two corpus passes + a bucket-model broadcast join + a
# TakeOrdered — the data-selection shape worth tracking round over round
register(Query("dsir_select_topk", dsir_select_topk, _dsir_oracle(),
               tags=("text", "sampling"), bench=True), extra=True)


_DSIR_MODEL_PATHS: dict[str, str] = {}
_DSIRM_K = 50
_DSIRM_SEED = "dsirm"
_DSIRM_BATCH_MOD = 3   # the "new batch": doc_id % 3 == 0


def _dsir_model(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprint-cached stored DSIR model layout (the _ann_index
    pattern): fit once per (dataset, m), scored from storage after."""
    import os
    import tempfile

    from ..operators.dsir import build_dsir_model, load_dsir_model
    from .pipeline import _dataset_fingerprint
    from .similarity_queries import _build_cached_dir

    key = (sf_dir.strip("/").replace("/", "_") + "_"
           + _dataset_fingerprint(sf_dir, "documents") + f"_m{_DSIR_M}")
    path = _DSIR_MODEL_PATHS.get(key)
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"rs_dsir_model_{key}")

        def build(tmp: str) -> None:
            docs = load_table(spark, sf_dir, "documents")
            build_dsir_model(docs.filter(F.col("source") == _DSIR_TARGET),
                             docs, tmp, m=_DSIR_M)

        _build_cached_dir(path, build)
        try:
            _, meta = load_dsir_model(spark, path)
            assert meta["m"] == _DSIR_M, meta
        except Exception:
            import shutil
            shutil.rmtree(path, ignore_errors=True)
            _build_cached_dir(path, build)
            _, meta = load_dsir_model(spark, path)
            assert meta["m"] == _DSIR_M, meta
        _DSIR_MODEL_PATHS[key] = path
    return path


def dsir_stored_model_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scored OFF STORAGE: the model (integer bucket counts + meta)
    is a fitted layout, and a 'new batch' (doc_id % 3 == 0) is selected
    against it without touching the fitting corpora — the incremental
    ingest shape.  The oracle refits from scratch relationally: stored
    and refit weights must agree bit-for-bit because the stored
    primitive is the exact integer counts."""
    from ..operators.dsir import dsir_select_from_model

    path = _dsir_model(spark, sf_dir)
    batch = (load_table(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % _DSIRM_BATCH_MOD == 0))
    return dsir_select_from_model(batch, path, k=_DSIRM_K,
                                  seed=_DSIRM_SEED)


def _dsir_stored_oracle() -> str:
    from ..operators.dsir import dsir_oracle_ctes, gumbel_sql

    d = D.DUCK
    ctes = dsir_oracle_ctes("documents",
                            f"source = {D.q(_DSIR_TARGET)}", _DSIR_M)
    g = gumbel_sql(d, "doc_id", _DSIRM_SEED)
    return f"""
WITH {ctes.strip()}
SELECT doc_id, n_feats, logw, round(logw + {g}, 6) AS key
FROM dsir_w WHERE doc_id % {_DSIRM_BATCH_MOD} = 0
ORDER BY key DESC, doc_id LIMIT {_DSIRM_K}
"""


register(Query("dsir_stored_model_topk", dsir_stored_model_topk,
               _dsir_stored_oracle(), tags=("text", "sampling")),
         extra=True)


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-source top-5 tokens. The oracle is the
    pure-SQL rendering of the same ranking, so the Arrow grouped path is
    value-checked end to end."""
    from ..operators.grouped import top_terms_per_source

    # fan_out deliberately NOT applied (r13 sweep): the heavy work
    # (tokenize + count) happens INSIDE the grouped-map pandas UDF, whose
    # parallelism is the number of groups after the groupBy exchange —
    # widening the scan wouldn't change that; per-group cost is the
    # grouped-map contract (tests bound the group count)
    docs = load_table(spark, sf_dir, "documents")
    return top_terms_per_source(docs, k=5)


TOP_TERMS_ORACLE = """
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
), counts AS (
  SELECT source, token, count(*) AS freq FROM toks GROUP BY source, token
), ranked AS (
  SELECT source, token, freq,
         row_number() OVER (PARTITION BY source
                            ORDER BY freq DESC, token ASC) AS rank
  FROM counts
)
SELECT source, token, freq, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5 ORDER BY source, rank
"""

register(Query("top_terms_per_source", top_terms, TOP_TERMS_ORACLE,
               tags=("text", "grouped")))


# --- sequence packing (token-budget bins) -----------------------------------

PACK_BUDGET = 512


def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: per source, docs in doc_id order accumulate
    into bins of ~PACK_BUDGET tokens (deterministic prefix-sum packing —
    see operators.grouped.pack_token_budget)."""
    from ..functions.text import token_count_sql
    from ..operators.grouped import pack_token_budget

    # fan_out deliberately NOT applied (r13 sweep, A/B'd at sf0.1): the
    # pre-window projection is ONE token_count regex — cheap enough that
    # the added round-robin exchange costs more than the serial scan
    # saves (measured 0.51 s fanned vs 0.37 s plain, min-of-3
    # interleaved); the heavy-projection rows (metrics, fingerprints)
    # keep the widen
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source",
        F.expr(token_count_sql(D.SPARK, "text")).cast("long").alias("n_tokens"))
    packed = pack_token_budget(with_tokens, "source", "doc_id",
                               "n_tokens", PACK_BUDGET)
    return (packed.select("doc_id", "source", "n_tokens",
                          F.col("bin_id").cast("long").alias("bin_id"))
            .orderBy("source", "doc_id"))


def _pack_oracle() -> str:
    from ..functions.text import token_count_sql

    ntok = token_count_sql(D.DUCK, "text")
    return f"""
WITH t AS (
  SELECT doc_id, source, {ntok} AS n_tokens FROM documents
), p AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS prefix
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(prefix / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
FROM p ORDER BY source, doc_id
"""


register(Query("doc_pack_bins", doc_pack_bins, _pack_oracle(),
               tags=("text", "packing")))


# --- corpus report (round 7) ----------------------------------------------

# quarter percentiles on integer token counts are EXACT in both engines:
# the interpolation fraction (0.25/0.5/0.75) is a dyadic rational, so
# a + d*(b-a) and (1-d)*a + d*b both evaluate exactly for integer a, b —
# no last-ulp divergence between Spark's and DuckDB's formulas.  (0.9/0.99
# are not dyadic; the operator supports them, the gate sticks to quarters.)
REPORT_PCTS = (0.25, 0.5, 0.75)


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report (exact-percentile path; the
    approx_percentile scale variant is asserted within tolerance in
    tests/test_subset.py)."""
    from ..functions import text as T
    from ..operators.sample import corpus_quality_report
    from ..util import fan_out

    d = D.SPARK
    # r13 fan_out sweep: token_count + quality_score regexes run in the
    # scan stage before the report's group exchange
    docs = fan_out(load_table(spark, sf_dir, "documents")).selectExpr(
        "source",
        f"CAST({T.token_count_sql(d, 'text')} AS BIGINT) AS n_tokens",
        f"round({T.quality_score_sql(d, 'text')}, 6) AS quality")
    return corpus_quality_report(docs, "source", percentiles=REPORT_PCTS)


def _corpus_report_oracle() -> str:
    from ..functions import text as T

    d = D.DUCK
    pcts = ",\n       ".join(
        f"round(quantile_cont(n_tokens, {p}), 4) AS p{int(p * 100)}_tokens"
        for p in REPORT_PCTS)
    return f"""
WITH t AS (
  SELECT source,
         CAST({T.token_count_sql(d, 'text')} AS BIGINT) AS n_tokens,
         round({T.quality_score_sql(d, 'text')}, 6) AS quality
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       {pcts},
       round(avg(quality), 6) AS avg_quality
FROM t GROUP BY source ORDER BY source
"""


register(Query("corpus_report", corpus_report, _corpus_report_oracle(),
               tags=("text",)), extra=True)


# --- unigram-LM perplexity (round 7) ----------------------------------------

LM_K = 0.5
LM_MOD = 4  # train on doc_id % 4 != 0, score the held-out % 4 == 0 slice


def heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality scoring: a unigram LM trained on
    3/4 of the corpus scores the held-out quarter (unseen tokens take the
    smoothed unseen-class probability).  operators/lm.py — one word-count
    aggregation to train, a (doc, token, tf)-granularity broadcast join +
    deterministic sorted fold to score."""
    from ..operators.lm import perplexity_scores, train_unigram_lm

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % LM_MOD != 0)
    held = docs.filter(F.col("doc_id") % LM_MOD == 0)
    lm = train_unigram_lm(train)
    return (perplexity_scores(held, lm, k=LM_K)
            .orderBy("doc_id"))


def _perplexity_oracle() -> str:
    d = D.DUCK
    toks = D.split_ws(d, "lower(text)")
    return f"""
WITH tr AS (
  SELECT unnest({toks}) AS token FROM documents
  WHERE doc_id % {LM_MOD} <> 0
), lm AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tr
  WHERE token <> '' GROUP BY token
), stats AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS vocab FROM lm
), ht AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
  WHERE doc_id % {LM_MOD} = 0
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM ht
  WHERE token <> '' GROUP BY doc_id, token
), j AS (
  SELECT tf.doc_id, tf.token, tf.tf, coalesce(lm.n, 0) AS n
  FROM tf LEFT JOIN lm USING (token)
), contrib AS (
  SELECT doc_id, token, tf,
         tf * -ln((n + {LM_K}) / (total + {LM_K} * (vocab + 1))) AS v
  FROM j, stats
), folded AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         list_reduce(list(v ORDER BY token), (a, b) -> a + b) AS nll
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(nll / n_tokens, 6) AS cross_entropy,
       round(exp(nll / n_tokens), 6) AS perplexity
FROM folded ORDER BY doc_id
"""


register(Query("heldout_perplexity", heldout_perplexity,
               _perplexity_oracle(), tags=("text", "lm")), extra=True)


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per-language
    perplexity TERTILES, the published recipe for keeping the
    lowest-perplexity third of a crawl.  ntile(3) over (perplexity,
    doc_id) within each language — deterministic tie-break, standard-SQL
    bucket sizing identical in both engines; the summary reports bucket
    sizes and min/max perplexity (order-free aggregates — no float-sum
    surface)."""
    from pyspark.sql.window import Window

    from ..operators.lm import perplexity_scores, train_unigram_lm

    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("lang").isNotNull())
    lm = train_unigram_lm(docs)
    scored = perplexity_scores(docs, lm, k=LM_K)
    labeled = scored.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.asc("perplexity"),
                                           F.asc("doc_id"))
    lab = ("CASE __nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' "
           "ELSE 'tail' END")
    return (labeled.withColumn("__nt", F.ntile(3).over(w))
            .withColumn("bucket", F.expr(lab))
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("perplexity").alias("min_ppl"),
                 F.max("perplexity").alias("max_ppl"))
            .orderBy("lang", "bucket"))


def _ccnet_buckets_oracle() -> str:
    d = D.DUCK
    toks = D.split_ws(d, "lower(text)")
    return f"""
WITH src AS (
  SELECT doc_id, lang, text FROM documents WHERE lang IS NOT NULL
), tr AS (
  SELECT unnest({toks}) AS token FROM src
), lm AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tr
  WHERE token <> '' GROUP BY token
), stats AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS vocab FROM lm
), ht AS (
  SELECT doc_id, unnest({toks}) AS token FROM src
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM ht
  WHERE token <> '' GROUP BY doc_id, token
), j AS (
  SELECT tf.doc_id, tf.token, tf.tf, coalesce(lm.n, 0) AS n
  FROM tf LEFT JOIN lm USING (token)
), contrib AS (
  SELECT doc_id, token, tf,
         tf * -ln((n + {LM_K}) / (total + {LM_K} * (vocab + 1))) AS v
  FROM j, stats
), folded AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         list_reduce(list(v ORDER BY token), (a, b) -> a + b) AS nll
  FROM contrib GROUP BY doc_id
), scored AS (
  SELECT f.doc_id, s.lang, round(exp(nll / n_tokens), 6) AS perplexity
  FROM folded f JOIN src s USING (doc_id)
), binned AS (
  SELECT lang, perplexity,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY perplexity ASC, doc_id ASC) AS nt
  FROM scored
)
SELECT lang,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(perplexity) AS min_ppl, max(perplexity) AS max_ppl
FROM binned GROUP BY lang, nt ORDER BY lang, bucket
"""


register(Query("ccnet_perplexity_buckets", ccnet_perplexity_buckets,
               _ccnet_buckets_oracle(), tags=("text", "lm")), extra=True)


# --- retrieval chunking (round 7) -------------------------------------------

CHUNK_TOKENS, CHUNK_OVERLAP = 64, 16


def doc_retrieval_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows per doc (the RAG/embedding ingestion
    shape; operators/grouped.py chunk_documents) — text hashed for the
    compare, (doc, chunk) addressing and token offsets exact."""
    from ..operators.grouped import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk_tokens=CHUNK_TOKENS,
                         overlap=CHUNK_OVERLAP)
    return (ch.select("doc_id", "chunk_idx", "tok_start", "n_tokens",
                      F.md5("chunk_text").alias("chunk_md5"))
            .orderBy("doc_id", "chunk_idx"))


def _chunks_oracle() -> str:
    """The DuckDB rendering of chunk_documents."""
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    toks = D.split_ws(D.DUCK, "text")
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), nz AS (
  SELECT doc_id, toks, len(toks) AS n FROM t
  WHERE len(toks) > 0 AND toks <> ['']
), starts AS (
  -- cap at greatest(1, n - overlap): a start past that yields a window
  -- that is a strict subsequence of the previous one (operator docstring)
  SELECT doc_id, toks, n,
         unnest(generate_series(1, greatest(1, n - {CHUNK_OVERLAP}),
                                {stride})) AS s
  FROM nz
), ch AS (
  SELECT doc_id, CAST((s - 1) / {stride} AS BIGINT) AS chunk_idx,
         CAST(s AS BIGINT) AS tok_start,
         toks[s : least(s + {CHUNK_TOKENS} - 1, n)] AS w
  FROM starts
)
SELECT doc_id, chunk_idx, tok_start,
       CAST(len(w) AS BIGINT) AS n_tokens,
       md5(array_to_string(w, ' ')) AS chunk_md5
FROM ch ORDER BY doc_id, chunk_idx
"""


register(Query("doc_retrieval_chunks", doc_retrieval_chunks,
               _chunks_oracle(), tags=("text", "chunking")), extra=True)


# --- char-n-gram language identification (round 8) ---------------------------

def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed language label per document (functions/lid.py — the
    Cavnar-Trenkle char-n-gram profile classifier as one codegen
    projection).  The fixture text is synthetic same-vocabulary prose, so
    the gate proves cross-engine parity of the classifier; accuracy on
    real multilingual text is asserted by tests/test_lid.py on a seeded
    fixture."""
    from ..functions.lid import identify_language

    docs = load_table(spark, sf_dir, "documents")
    return (identify_language(docs)
            .select("doc_id", "pred_lang", "lang_score")
            .orderBy("doc_id"))


def _language_id_oracle() -> str:
    from ..functions.lid import language_id_sql

    pred, score = language_id_sql(D.DUCK, "text")
    return (f"SELECT doc_id, {pred} AS pred_lang, {score} AS lang_score "
            f"FROM documents ORDER BY doc_id")


# driver-visible since round 8 (took a sampling sibling's slot): the
# one first-class text-analysis operator the layer had been missing
# bench=True: a pure whole-stage-codegen scan over the corpus — the
# classifier's cost model IS the scan, and the bench row proves it
register(Query("doc_language_id", doc_language_id, _language_id_oracle(),
               tags=("text", "lid"), bench=True))


def doc_language_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LID with the winner-minus-runner-up confidence margin (r13,
    r12 verdict #7): downstream mixers threshold on the margin — a
    near-tie between two same-script profiles is a different 'es' than
    a clear win.  'und' rows carry margin 0 like their score.

    Deliberately NO filter in this gate: a predicate on pred_lang gets
    pushed below the staged scores-array projection, which inlines the
    whole 31-language array expression into the filter and pushes the
    codegen method over the JVM 64 KB limit — silent interpreted
    fallback, measured 24.6 s vs 1.0 s at sf0.01 (the exact r10 LID
    failure mode; locked by test_lid's fallback-disabled compile
    test).  Consumers thresholding on margin should filter AFTER a
    materialization boundary."""
    from ..functions.lid import identify_language

    docs = load_table(spark, sf_dir, "documents")
    return (identify_language(docs)
            .select("doc_id", "pred_lang", "lang_score", "lang_margin")
            .orderBy("doc_id"))


def _language_margin_oracle() -> str:
    from ..functions.lid import (lang_scores_array_sql,
                                 margin_from_scores_sql,
                                 pred_from_scores_sql,
                                 score_from_scores_sql)

    d = D.DUCK
    # the scores array staged once in a subquery (the identify_language
    # shape) — pred/score/margin derive from the cheap array
    return (f"SELECT doc_id, {pred_from_scores_sql(d, 'ls')} AS pred_lang, "
            f"{score_from_scores_sql(d, 'ls')} AS lang_score, "
            f"{margin_from_scores_sql(d, 'ls')} AS lang_margin "
            f"FROM (SELECT doc_id, {lang_scores_array_sql(d, 'text')} AS ls "
            f"FROM documents) "
            f"ORDER BY doc_id")


register(Query("doc_language_margin", doc_language_margin,
               _language_margin_oracle(), tags=("text", "lid")),
         extra=True)


# --- LID feeding the mixing step (round 8 composition) -----------------------
# A real pipeline mixes on the language it COMPUTED, not a given label:
# compute pred_lang with the char-n-gram classifier, then token-budget-mix
# on that stratum.  On the fixture the classifier yields en/und — two
# populated strata with different rates, so the composition (lid expression
# → stratum key of the hash predicate + rate table) is genuinely exercised.

LMIX_WEIGHTS = {"en": 3.0, "und": 1.0}
LMIX_BUDGET = 6000


def language_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.lid import identify_language
    from ..operators.sample import token_budget_mix
    from ..util import CACHED, materialize

    # persist the LID projection (r15): pred_lang is referenced by the
    # threshold aggregate, twice in the mix predicate (hash draw + rate
    # CASE) and by the final groupBy — without the cache barrier Catalyst
    # inlines the full char-n-gram classifier expression into every
    # consumer, the tripled expression blows janino's method limit and
    # falls back to INTERPRETED row-at-a-time eval (~73 s for 1,000 docs
    # at sf0.001 vs 1.2 s for 100,000 docs in the single-copy
    # doc_language_id gate).  Same pathology/fix as the corpus pipeline's
    # scored-frame persist (corpus.py, r12).  token_budget_mix's eager
    # threshold aggregate fills the cache, so no extra fill action.
    docs = materialize(identify_language(load_table(spark, sf_dir,
                                                    "documents")), CACHED)
    kept = token_budget_mix(docs, LMIX_WEIGHTS, LMIX_BUDGET,
                            stratum_col="pred_lang", salt="lmix")
    tok = T.token_count_sql(D.SPARK, "text")
    return (kept.groupBy("pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.expr(f"CAST({tok} AS BIGINT)")).alias("n_tokens"))
            .orderBy("pred_lang"))


def _language_mix_oracle() -> str:
    from ..functions.lid import language_id_sql

    d = D.DUCK
    pred, _ = language_id_sql(d, "text")
    tok = T.token_count_sql(d, "text")
    wsum = float(sum(LMIX_WEIGHTS.values()))
    budget_case = " ".join(
        f"WHEN {D.q(s)} THEN {LMIX_BUDGET * (w / wsum)!r}"
        for s, w in sorted(LMIX_WEIGHTS.items()))
    combined = (f"({D.to_str(d, 'doc_id')} || '|' || "
                f"{D.to_str(d, 'pred_lang')})")
    draw = D.hash_uniform_mod(d, combined, "lmix", 1_000_000)
    return f"""
WITH lp AS (
  SELECT *, {pred} AS pred_lang FROM documents
), tot AS (
  SELECT pred_lang, sum(CAST({tok} AS BIGINT)) AS t FROM lp
  GROUP BY pred_lang
), thr AS (
  SELECT pred_lang, CASE WHEN coalesce(t, 0) > 0 THEN
    CAST(floor(least(1.0, (CASE pred_lang {budget_case} ELSE 0 END) / t)
               * 1000000) AS BIGINT) ELSE 0 END AS thr
  FROM tot
), kept AS (
  SELECT d.* FROM lp d JOIN thr USING (pred_lang) WHERE {draw} < thr
)
SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST({tok} AS BIGINT)) AS BIGINT) AS n_tokens
FROM kept GROUP BY pred_lang ORDER BY pred_lang
"""


register(Query("language_mix_budget", language_mix_budget,
               _language_mix_oracle(), tags=("text", "lid", "sample")),
         extra=True)


# --- bigram LM perplexity (round 9) ------------------------------------------
# one order above the unigram restatement: transition-level statistical
# quality (CCNet's KenLM direction) with the same deterministic-fold /
# exact-oracle contract.  Same split and smoothing as the unigram gate.

def bigram_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bigram_perplexity_scores, train_bigram_lm

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % LM_MOD != 0)
    held = docs.filter(F.col("doc_id") % LM_MOD == 0)
    lm = train_bigram_lm(train)
    return (bigram_perplexity_scores(held, lm, k=LM_K)
            .orderBy("doc_id"))


def _bigram_perplexity_oracle() -> str:
    from ..operators.dedup import word_ngrams_sql

    d = D.DUCK
    grams = word_ngrams_sql(d, "lower(text)", 2)
    return f"""
WITH tr AS (
  SELECT unnest({grams}) AS gram FROM documents
  WHERE doc_id % {LM_MOD} <> 0
), lm AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n FROM tr
  WHERE NOT regexp_matches(gram, '^ | $|^$') GROUP BY gram
), ctx AS (
  SELECT split_part(gram, ' ', 1) AS prev, CAST(sum(n) AS BIGINT) AS c
  FROM lm GROUP BY 1
), stats AS (
  SELECT count(DISTINCT split_part(gram, ' ', 2)) AS v FROM lm
), ht AS (
  SELECT doc_id, unnest({grams}) AS gram FROM documents
  WHERE doc_id % {LM_MOD} = 0
), tf AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf FROM ht
  WHERE NOT regexp_matches(gram, '^ | $|^$') GROUP BY doc_id, gram
), j AS (
  SELECT tf.doc_id, tf.gram, tf.tf,
         coalesce(lm.n, 0) AS n, coalesce(ctx.c, 0) AS c
  FROM tf LEFT JOIN lm USING (gram)
  LEFT JOIN ctx ON ctx.prev = split_part(tf.gram, ' ', 1)
), contrib AS (
  SELECT doc_id, gram, tf,
         tf * -ln((n + {LM_K}) / (c + {LM_K} * (v + 1))) AS v
  FROM j, stats
), folded AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_transitions,
         list_reduce(list(v ORDER BY gram), (a, b) -> a + b) AS nll
  FROM contrib GROUP BY doc_id
)
SELECT d.doc_id, coalesce(f.n_transitions, 0) AS n_transitions,
       round(f.nll / f.n_transitions, 6) AS cross_entropy,
       round(exp(f.nll / f.n_transitions), 6) AS perplexity
FROM (SELECT doc_id FROM documents WHERE doc_id % {LM_MOD} = 0) d
LEFT JOIN folded f USING (doc_id)
ORDER BY d.doc_id
"""


register(Query("bigram_heldout_perplexity", bigram_heldout_perplexity,
               _bigram_perplexity_oracle(), tags=("text", "lm")),
         extra=True)


# --- TF-IDF salient terms per source (round 9) -------------------------------
# top_terms ranks by raw frequency, which surfaces the corpus-wide Zipf
# head ("the", "and") for every source; TF-IDF down-weights terms by the
# number of SOURCES containing them, surfacing what distinguishes each
# source — the per-dataset fingerprint a mixing decision actually reads.

TFIDF_K = 5
# the broadcast side (dfreq) is one row per DISTINCT CORPUS TOKEN — a
# 100 TB web crawl's vocabulary is billions of rows, so the hint must be
# conditional on the measured vocab, never unconditional (the r10
# verdict's finding; same guard as operators/retrieval.py::bm25_scores)
TFIDF_BROADCAST_VOCAB_LIMIT = 5_000_000


def tfidf_salient_terms(docs: DataFrame, k: int = TFIDF_K,
                        broadcast_vocab_limit: int =
                        TFIDF_BROADCAST_VOCAB_LIMIT) -> DataFrame:
    """(source, token, tf, tfidf, rank): top-k tokens per source by
    tf·ln(n_sources/df), df = sources containing the token.  Two
    word-count-shaped aggregations (map-side partial agg; the raw token
    stream never shuffles); the df table is vocabulary-bounded and
    broadcast only when the measured vocabulary fits under
    `broadcast_vocab_limit` (otherwise the join shuffles — correct and
    boring beats a driver OOM).  Ranking happens on the 6dp-ROUNDED
    score so the oracle's window agrees bit-for-bit."""
    from pyspark.sql.window import Window

    d = D.SPARK
    toks = (docs.select("source", F.explode(
        F.expr(D.split_ws(d, "lower(text)"))).alias("token"))
        .filter(F.col("token") != ""))
    counts = (toks.groupBy("source", "token")
              .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    # n_sources comes from the RAW docs frame (a source whose texts are
    # all empty still counts — oracle parity), so the vocab scalar needs
    # its own pass over the (source, token) aggregate; both are bounded
    # scalar jobs, never a corpus collect
    n_sources = docs.select("source").distinct().count()
    vocab = int(counts.agg(
        F.countDistinct("token").alias("v")).collect()[0]["v"] or 0)
    dfreq = (counts.groupBy("token")
             .agg(F.count(F.lit(1)).cast("long").alias("df")))
    df_side = (F.broadcast(dfreq)
               if vocab <= broadcast_vocab_limit else dfreq)
    scored = (counts.join(df_side, on="token")
              .withColumn("tfidf", F.expr(
                  f"round(tf * ln(CAST({n_sources} AS DOUBLE) / df), 6)")))
    w = Window.partitionBy("source").orderBy(
        F.desc("tfidf"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("source", "token", "tf", "tfidf",
                    F.col("rank").cast("int").alias("rank"))
            .orderBy("source", "rank"))


def salient_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..util import fan_out

    return tfidf_salient_terms(fan_out(load_table(spark, sf_dir,
                                                  "documents")))


def _tfidf_oracle() -> str:
    d = D.DUCK
    toks = D.split_ws(d, "lower(text)")
    return f"""
WITH tk AS (
  SELECT source, unnest({toks}) AS token FROM documents
), counts AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM tk
  WHERE token <> '' GROUP BY source, token
), ns AS (
  SELECT count(DISTINCT source) AS n FROM documents
), dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM counts GROUP BY token
), scored AS (
  SELECT c.source, c.token, c.tf,
         round(c.tf * ln(CAST(ns.n AS DOUBLE) / d.df), 6) AS tfidf
  FROM counts c JOIN dfreq d USING (token), ns
), ranked AS (
  SELECT source, token, tf, tfidf,
         row_number() OVER (PARTITION BY source
                            ORDER BY tfidf DESC, token ASC) AS rank
  FROM scored
)
SELECT source, token, tf, tfidf, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TFIDF_K} ORDER BY source, rank
"""


register(Query("salient_terms_per_source", salient_terms_per_source,
               _tfidf_oracle(), tags=("text",)), extra=True)


# --- temperature-flattened mixing (round 9) -----------------------------------
# the mT5/unimax sampling rule: stratum budgets proportional to (token
# mass)^(1/T) — flattens the head without hand-written weights.  Same
# hash-predicate realization as the weighted mixers.

TMIX_BUDGET, TMIX_T = 40_000, 3.0


def temperature_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sample import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_mix(docs, TMIX_BUDGET, temperature=TMIX_T,
                           stratum_col="lang")
    d = D.SPARK
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.expr(
                     f"CAST({T.token_count_sql(d, 'text')} AS BIGINT)"))
                 .cast("long").alias("n_tokens"))
            .orderBy("lang"))


def _temperature_mix_oracle() -> str:
    d = D.DUCK
    tok = T.token_count_sql(d, "text")
    alpha = 1.0 / TMIX_T
    combined = f"({D.to_str(d, 'doc_id')} || '|' || {D.to_str(d, 'lang')})"
    draw = D.hash_uniform_mod(d, combined, "tmix", 1_000_000)
    return f"""
WITH tot AS (
  SELECT lang, sum(CAST({tok} AS BIGINT)) AS t FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
), wsum AS (
  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(pow(t, {D.dlit(d, alpha)}) ORDER BY lang)),
             (a, x) -> a + x) AS w
  FROM tot WHERE t > 0
), thr AS (
  SELECT lang,
         CAST(floor(least(1.0,
              ({TMIX_BUDGET} * (pow(t, {D.dlit(d, alpha)}) / wsum.w)) / t)
              * 1000000) AS BIGINT) AS thr
  FROM tot, wsum WHERE t > 0
), kept AS (
  SELECT d.* FROM documents d JOIN thr USING (lang) WHERE {draw} < thr
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST({tok} AS BIGINT)) AS BIGINT) AS n_tokens
FROM kept GROUP BY lang ORDER BY lang
"""


register(Query("temperature_mix_budget", temperature_mix_budget,
               _temperature_mix_oracle(), tags=("text", "sample")),
         extra=True)
