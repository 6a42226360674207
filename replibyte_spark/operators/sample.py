"""Sampling strategies for the subset operator.

Reference: `SubsetStrategy::RandomPercent`
(/root/reference/subset/src/lib.rs:40-56; subset/src/postgres.rs:305-331) —
systematic modulo selection over the INSERT-statement order: deterministic
given row order, not truly random.

Strategies:

- :func:`hash_percent_filter` — the 100 TB path.  Keep rows where a
  deterministic md5-derived value of the key is < pct.  Embarrassingly
  parallel (no global ordering, no shuffle), stable across partitioning,
  retries and engines, and exactly reproducible in the DuckDB oracle via the
  shared dialect builder.
- :func:`stratified_percent_filter` — per-stratum rates (training-data
  curation: downsample the dominant language/source, keep the tail) — still
  a pure per-row predicate, zero shuffles.
- :func:`per_group_cap` — EXACTLY min(cap, |group|) rows per group, chosen
  by deterministic hash rank (the distributed analogue of per-group
  reservoir sampling); only over-cap groups pay the sort shuffle.
- :func:`systematic_percent` — reference-faithful every-k-th-row selection.
  Needs a global row_number (single-partition sort bottleneck), so it is the
  small-data/compat path only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import dialect as D


def hash_percent_sql(d: str, key_expr: str, pct: int, salt: str = "subset") -> str:
    """Cross-dialect predicate: deterministic pseudo-random pct% of rows.

    Uses the UNIFORM hash (hex→int, not digit-translate), so the observed
    keep-rate converges to pct (the translate trick under-kept pct=20 by
    ~1.8pp: digits 1-6 twice as likely as 0,7,8,9)."""
    return f"{D.hash_uniform_mod(d, key_expr, salt, 100)} < {pct}"


def hash_percent_filter(df: DataFrame, key: str, pct: int, salt: str = "subset") -> DataFrame:
    return df.filter(F.expr(hash_percent_sql(D.SPARK, key, pct, salt)))


def stratified_percent_sql(d: str, key_expr: str, stratum_expr: str,
                           rates: dict[str, int], default_pct: int = 100,
                           salt: str = "strata") -> str:
    """Cross-dialect predicate: keep `rates[stratum]`% of each stratum
    (`default_pct`% for unlisted strata).  The hash mixes the stratum in so
    the same key sampled under two strata draws independently."""
    branches = " ".join(
        f"WHEN {D.q(s)} THEN {p}" for s, p in sorted(rates.items()))
    pct_expr = f"(CASE {stratum_expr} {branches} ELSE {default_pct} END)"
    draw = D.hash_uniform_mod(
        d, f"({D.to_str(d, key_expr)} || '|' || {D.to_str(d, stratum_expr)})",
        salt, 100)
    return f"{draw} < {pct_expr}"


def stratified_percent_filter(df: DataFrame, key: str, stratum: str,
                              rates: dict[str, int], default_pct: int = 100,
                              salt: str = "strata") -> DataFrame:
    return df.filter(F.expr(
        stratified_percent_sql(D.SPARK, key, stratum, rates, default_pct, salt)))


def systematic_percent(df: DataFrame, order_key: str, pct: int) -> DataFrame:
    """Every k-th row by `order_key` (k = 100 // pct), like the reference's
    modulo selection over statement order (subset/postgres.rs:316-328).

    Global row_number ⇒ one-partition sort: fine at fixture scale, do not use
    at 100 TB — that is what hash_percent_filter is for.
    """
    k = max(1, 100 // pct)
    w = Window.orderBy(order_key)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") % k == 0)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# token-budget corpus mixing (training-data curation)
# ---------------------------------------------------------------------------


def token_budget_thresholds(docs: DataFrame, weights: dict[str, float],
                            total_budget: int, stratum_col: str = "lang",
                            text_col: str = "text") -> dict[str, int]:
    """Per-stratum keep thresholds (millionths) so the EXPECTED token mix
    approaches `weights` (normalized) × `total_budget`:
    rate_s = min(1, budget_s / tokens_s).

    One aggregation over the corpus (map-side partial sum on the stratum
    key) and a driver collect bounded by the number of strata — the rate
    table is config-sized metadata, like IVF centroids.  Strata absent
    from `weights`, absent from the data, or with zero tokens keep
    nothing."""
    from ..functions.text import token_count_sql

    wsum = float(sum(weights.values()))
    tok = f"CAST({token_count_sql(D.SPARK, text_col)} AS BIGINT)"
    totals = {r["s"]: r["t"] or 0 for r in (
        docs.selectExpr(f"{stratum_col} AS s", f"{tok} AS t")
        .groupBy("s").agg(F.sum("t").alias("t")).collect())}
    out = {}
    for s, w in weights.items():
        t = totals.get(s)
        if not t:
            continue
        budget = total_budget * (w / wsum)
        out[s] = int(min(1.0, budget / t) * 1_000_000)
    return out


def token_budget_mix(docs: DataFrame, weights: dict[str, float],
                     total_budget: int, stratum_col: str = "lang",
                     key_col: str = "doc_id", text_col: str = "text",
                     salt: str = "mix",
                     thresholds: dict[str, int] | None = None) -> DataFrame:
    """Deterministic source/language mixing: keep each stratum at the rate
    that lands its token mass at its weight share of `total_budget` —
    the data-mixing step of a training pipeline (downsample the dominant
    web crawl, keep all of the small high-quality sources), as a pure
    per-row hash predicate: no shuffle, stable under retries/partitioning.

    Pass `thresholds` (from :func:`token_budget_thresholds`) to reuse a
    precomputed rate table across runs."""
    thr = thresholds if thresholds is not None else token_budget_thresholds(
        docs, weights, total_budget, stratum_col, text_col)
    if not thr:
        return docs.filter(F.lit(False))
    branches = " ".join(
        f"WHEN {D.q(s)} THEN {v}" for s, v in sorted(thr.items()))
    combined = (f"({D.to_str(D.SPARK, key_col)} || '|' || "
                f"{D.to_str(D.SPARK, stratum_col)})")
    draw = D.hash_uniform_mod(D.SPARK, combined, salt, 1_000_000)
    return docs.filter(F.expr(
        f"{draw} < (CASE {stratum_col} {branches} ELSE 0 END)"))


def corpus_quality_report(docs: DataFrame, group_col: str = "source",
                          tokens_col: str = "n_tokens",
                          quality_col: str = "quality",
                          percentiles: "tuple" = (0.25, 0.5, 0.9, 0.99),
                          approx: bool = False) -> DataFrame:
    """Per-group corpus health report: doc/token totals, token-count
    percentiles, mean quality — the sanity dashboard you read before
    committing a 100 TB training mix.

    `approx=False` uses exact interpolated percentiles (Spark `percentile`
    buffers each group's values — fine while a group fits an executor, and
    bit-identical to DuckDB's quantile_cont, so the gate hash-matches).
    `approx=True` is the 100 TB path: `approx_percentile` (t-digest-style
    bounded sketch, mergeable across partitions) — same report shape, not
    oracle-exact, asserted against the exact path within tolerance in the
    unit tests."""
    fn = "approx_percentile" if approx else "percentile"
    pcts = [F.expr(f"round({fn}({tokens_col}, {p}), 4)")
            .alias(f"p{int(p * 100)}_tokens") for p in percentiles]
    return (docs.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(tokens_col).cast("long").alias("total_tokens"),
                 *pcts,
                 F.round(F.avg(quality_col), 6).alias("avg_quality"))
            .orderBy(group_col))


def temperature_mix(docs: DataFrame, total_budget: int,
                    temperature: float = 2.0, stratum_col: str = "lang",
                    key_col: str = "doc_id", text_col: str = "text",
                    salt: str = "tmix") -> DataFrame:
    """Temperature-flattened corpus mixing (the mT5/unimax sampling rule,
    public knowledge): stratum budgets ∝ (token mass)^(1/T), so T=1 keeps
    raw proportions and larger T progressively flattens the head —
    downsample the dominant crawl without hand-writing per-source weights
    (the knob IS the temperature).  Realized exactly like
    :func:`token_budget_mix`: one stratum-key aggregation for the totals,
    a driver-side rate table bounded by |strata|, then a pure per-row
    hash predicate — no shuffle, stable under retries and partitioning.

    rate_s = min(1, B·t_s^(1/T)/Σt^(1/T) / t_s); thresholds in millionths
    feed the shared :func:`token_budget_mix` filter."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    from ..functions.text import token_count_sql

    tok = f"CAST({token_count_sql(D.SPARK, text_col)} AS BIGINT)"
    totals = {r["s"]: int(r["t"] or 0) for r in (
        docs.selectExpr(f"{stratum_col} AS s", f"{tok} AS t")
        .groupBy("s").agg(F.sum("t").alias("t")).collect())
        if r["s"] is not None}
    alpha = 1.0 / temperature
    # sorted LEFT FOLD over strata (the repo's cross-engine float-sum
    # convention): Python dict order is collect order, which Spark leaves
    # unspecified — the oracle pins the same order with
    # list_reduce(list(pow(t, a) ORDER BY lang), +)
    wsum = 0.0
    for s in sorted(k for k, t in totals.items() if t > 0):
        wsum += totals[s] ** alpha
    thr = {}
    for s, t in totals.items():
        if t <= 0:
            continue
        budget = total_budget * ((t ** alpha) / wsum)
        thr[s] = int(min(1.0, budget / t) * 1_000_000)
    return token_budget_mix(docs, {}, total_budget, stratum_col, key_col,
                            text_col, salt, thresholds=thr)


def per_group_cap(df: DataFrame, group_col: str, key_col: str, cap: int,
                  salt: str = "group-cap",
                  broadcast_group_limit: int = 1_000_000,
                  head_prefilter_margin: "float | None" = None) -> DataFrame:
    """Cap each group at `cap` rows (per-domain document caps — the
    anti-SEO/anti-boilerplate balancing step of a web-crawl curation
    pipeline), keeping a DETERMINISTIC hash-ranked subset so reruns,
    retries and the oracle all pick the same rows.

    The naive rendering is ONE window over the whole corpus partitioned
    by group — every row pays the sort shuffle, and at a 100 TB crawl
    with per-domain caps the overwhelming majority of domains are
    already under cap and need no ranking at all.  This is the
    two-phase scale path:

    1. one group-keyed count aggregation (map-side partial) finds the
       OVER-cap groups — at realistic caps a tiny fraction of groups;
    2. rows in under-cap groups pass through untouched via an anti-join
       against that (usually broadcast-able) group list — no sort, no
       window, the join rides the scan;
    3. only rows in over-cap groups — the skewed head — enter the
       row_number window, so the expensive range-sort shuffle handles
       the head's rows, not the corpus.

    The broadcast is guarded by the measured over-cap group COUNT
    (the BM25 vocabulary-guard pattern, operators/retrieval.py): above
    `broadcast_group_limit` the planner falls back to a shuffled join
    rather than an OOM'd driver.  The under/over split reads the input
    twice; both reads push the same scan filters, and what the second
    read costs is bought back many times over by the sort shuffle
    shrinking from |corpus| to |head| (persist the input first if the
    scan itself dominates).  Ordering inside a group is
    (md5(salt||key), key), so the DuckDB oracle reproduces the exact
    kept set.

    `head_prefilter_margin` (e.g. 4.0) adds the MONSTER-group lever: a
    single spam domain with 10^8 pages would still funnel through one
    sort partition (a per-group window is one partition per group).
    Because the rank order is a UNIFORM hash, the true top-`cap` rows of
    a group of n sit below the hash quantile cap/n, so a per-row
    prefix cut at margin·cap/n·2^48 keeps ~margin·cap rows per group —
    and the kept set is PROVABLY unchanged: every survivor's hash prefix
    sorts strictly before every cut row's, so whenever a group retains
    >= cap survivors its window result is identical to the unfiltered
    one.  Groups where the margin failed (binomial tail odds at
    margin >= 2) are detected by that exact count check and re-windowed
    from their full rows — exactness never depends on the margin."""
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    counts = (df.groupBy(group_col)
              .agg(F.count(F.lit(1)).alias("__n")))
    over_n = counts.filter(F.col("__n") > cap)
    n_over = over_n.count()  # scalar; the agg is group-bounded metadata
    guard = n_over <= broadcast_group_limit

    def _side(frame: DataFrame) -> DataFrame:
        return F.broadcast(frame) if guard else frame

    over = over_n.select(group_col)
    under_rows = df.join(_side(over), on=group_col, how="left_anti")
    h = F.expr(D.md5_hex(D.SPARK, key_col, salt))
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    if head_prefilter_margin is not None and cap > 0:
        if head_prefilter_margin <= 0:
            raise ValueError("head_prefilter_margin must be > 0, got "
                             f"{head_prefilter_margin}")
        head = df.join(_side(over_n), on=group_col)  # carries __n
        prefix = F.expr(D.hash_uniform_long(D.SPARK, key_col, salt))
        cutoff = F.least(
            F.lit(float(2 ** 48)),
            F.ceil(F.lit(head_prefilter_margin * cap)
                   * F.lit(float(2 ** 48)) / F.col("__n")))
        surv = head.filter(prefix < cutoff)
        ok = (surv.groupBy(group_col)
              .agg(F.count(F.lit(1)).alias("__sn"))
              .filter(F.col("__sn") >= cap).select(group_col))
        ranked_src = (surv.join(_side(ok), on=group_col, how="left_semi")
                      .unionByName(
                          head.join(_side(ok), on=group_col,
                                    how="left_anti")))
        capped_head = (ranked_src
                       .withColumn("__rk", F.row_number().over(w))
                       .filter(F.col("__rk") <= cap)
                       .drop("__rk", "__n"))
    else:
        capped_head = (df.join(_side(over), on=group_col, how="left_semi")
                       .withColumn("__rk", F.row_number().over(w))
                       .filter(F.col("__rk") <= cap)
                       .drop("__rk"))
    # USING-joins float the group column to the front; restore df's order
    return under_rows.unionByName(capped_head).select(*df.columns)


def per_group_cap_keep_sql(d: str, group_expr: str, key_expr: str,
                           cap: int, salt: str = "group-cap") -> str:
    """Oracle-side rendering of :func:`per_group_cap`'s kept set: a plain
    per-group row_number over the SAME (md5, key) ordering — the naive
    one-window plan the two-phase operator must match row-for-row.
    Returns a window expression usable as `QUALIFY`/filter on rk."""
    h = D.md5_hex(d, key_expr, salt)
    return (f"row_number() OVER (PARTITION BY {group_expr} "
            f"ORDER BY {h}, {key_expr})")


def score_weighted_sql(d: str, key_expr: str, score_millionths_expr: str,
                       salt: str = "score-w") -> str:
    """Cross-dialect predicate: keep a row with probability
    `score_millionths/1e6` — quality-WEIGHTED sampling (the soft
    alternative to a hard quality cutoff: high-quality docs are kept at
    ~1, mid-quality survive proportionally instead of cliff-dropping,
    the FineWeb-Edu-style score→rate curriculum).  A pure per-row
    uniform-hash draw against a per-row integer threshold: no shuffle,
    no RNG state, reproducible across engines/retries, and the score
    expression itself must be integer-exact in both dialects (millionths,
    never floats — the repo's cross-engine convention)."""
    draw = D.hash_uniform_mod(d, key_expr, salt, 1_000_000)
    return f"{draw} < ({score_millionths_expr})"


def stopword_score_sql(d: str, text_col: str = "text") -> str:
    """Integer quality score in millionths: stopword density × 8 capped
    at 1e6 — i.e. a doc whose words are >= 12.5% Gopher stopwords is
    always kept, a 3% doc survives at ~0.24.  Built once for both
    dialects (the drift-proof convention); the default score of
    :func:`score_weighted_filter`'s callers."""
    from ..functions.gopher import REQUIRED_STOPWORDS, words_sql

    w = words_sql(d, text_col)
    stop_pred = f"x -> {D.array_contains_lit(d, list(REQUIRED_STOPWORDS), 'x')}"
    n_stop = D.array_len(d, D.array_filter(d, w, stop_pred))
    n_words = D.array_len(d, w)
    density = D.int_div(d, f"CAST({n_stop} AS BIGINT) * 8000000",
                        f"greatest({n_words}, 1)")
    return f"least(1000000, {density})"


def score_weighted_filter(df: DataFrame, key_col: str,
                          score_millionths_expr: str,
                          salt: str = "score-w") -> DataFrame:
    """Spark rendering of :func:`score_weighted_sql` (see there)."""
    return df.filter(F.expr(score_weighted_sql(
        D.SPARK, key_col, score_millionths_expr, salt)))
