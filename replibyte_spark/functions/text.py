"""Text-analysis functions for the documents table — language-ID heuristic,
quality scoring, token counting, document fingerprinting.

These generalize the reference's string transformers (SURVEY.md §2.5) into
the text-metrics a training-data pipeline filters on (BASELINE.json north
star).  All pure Catalyst expressions via the dialect builder — no Python in
the hot path, and every metric is reproduced exactly by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import dialect as D

# tiny per-language stopword profiles for the n-gram/stopword language guess
LANG_PROFILES = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "fr": ["le", "la", "et", "les", "des", "une", "est"],
    "es": ["el", "los", "las", "una", "es", "y", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "zh": ["de", "shi", "bu", "le", "wo", "you", "ren"],
}
PUNCT = ".,;:!?'\"()-"
STOPWORDS = LANG_PROFILES["en"]


def token_count_sql(d: str, text: str, toks: str | None = None) -> str:
    """Whitespace token count (empty string → 0, NULL → NULL).

    The NULL arm is explicit: without it Spark's legacy `size(NULL)` = -1
    leaks through the ELSE branch (DuckDB returns NULL), poisoning every
    derived metric — quality bands compare against -1, ratios divide by
    it — and silently diverging engine from oracle.

    Pass `toks` (a materialized token-array column) on the Spark side when
    computing many metrics over one text — otherwise every metric re-runs
    the regex split.  The DuckDB oracle can keep the inline form: values are
    identical either way."""
    toks = toks or D.split_ws(d, text)
    return (f"CASE WHEN {text} IS NULL THEN NULL "
            f"WHEN length(trim({text})) = 0 THEN 0 "
            f"ELSE {D.array_len(d, toks)} END")


def char_count_sql(d: str, text: str) -> str:
    return f"length({text})"


def punct_ratio_sql(d: str, text: str) -> str:
    """Fraction of characters that are punctuation."""
    # translate() deletes chars with no replacement in both dialects
    stripped = f"translate({text}, {D.q(PUNCT)}, '')"
    return (f"CASE WHEN length({text}) = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"round(CAST(length({text}) - length({stripped}) AS DOUBLE) / length({text}), 6) END")


def stopword_count_sql(d: str, text: str, words: list[str] | None = None,
                       ltoks: str | None = None) -> str:
    toks = ltoks or D.split_ws(d, f"lower({text})")
    pred = D.array_contains_lit(d, words or STOPWORDS, "x")
    return D.array_len(d, D.array_filter(d, toks, f"x -> {pred}"))


def stopword_ratio_sql(d: str, text: str, words: list[str] | None = None,
                       toks: str | None = None, ltoks: str | None = None) -> str:
    n_tok = token_count_sql(d, text, toks)
    n_stop = stopword_count_sql(d, text, words, ltoks)
    return (f"CASE WHEN {n_tok} = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"round(CAST({n_stop} AS DOUBLE) / {n_tok}, 6) END")


def avg_word_len_sql(d: str, text: str, toks: str | None = None) -> str:
    n_tok = token_count_sql(d, text, toks)
    n_char_nospace = f"length({D.regexp_replace(d, text, '[ ]+', '')})"
    return (f"CASE WHEN {n_tok} = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"round(CAST({n_char_nospace} AS DOUBLE) / {n_tok}, 6) END")


def quality_score_sql(d: str, text: str, toks: str | None = None,
                      ltoks: str | None = None) -> str:
    """Composite quality score in [0,1]: length band + stopword presence +
    low punctuation + sane word length.  A deterministic stand-in for the
    fastText-style quality classifiers used in web-corpus curation."""
    n_tok = token_count_sql(d, text, toks)
    len_score = (f"CASE WHEN {n_tok} >= 50 AND {n_tok} <= 10000 THEN 0.4 "
                 f"WHEN {n_tok} >= 10 THEN 0.2 ELSE 0.0 END")
    stop_score = (f"CASE WHEN {stopword_ratio_sql(d, text, None, toks, ltoks)} >= 0.05 "
                  f"THEN 0.3 ELSE 0.0 END")
    punct_score = f"CASE WHEN {punct_ratio_sql(d, text)} <= 0.2 THEN 0.2 ELSE 0.0 END"
    wl = avg_word_len_sql(d, text, toks)
    wl_score = f"CASE WHEN {wl} >= 2.0 AND {wl} <= 12.0 THEN 0.1 ELSE 0.0 END"
    return (f"round(CAST(({len_score}) + ({stop_score}) + ({punct_score}) + ({wl_score}) AS DOUBLE), 6)")


def lang_guess_sql(d: str, text: str, ltoks: str | None = None) -> str:
    """Stopword-profile language guess with deterministic tie-break (first
    language in profile order wins ties; 'und' when nothing matches)."""
    counts = {lang: stopword_count_sql(d, text, words, ltoks)
              for lang, words in LANG_PROFILES.items()}
    langs = list(LANG_PROFILES)
    # lang L wins if its count > 0 and >= every later lang, and > every earlier
    branches = []
    for i, L in enumerate(langs):
        conds = [f"{counts[L]} > 0"]
        for j, M in enumerate(langs):
            if i == j:
                continue
            op = ">" if j < i else ">="
            conds.append(f"{counts[L]} {op} {counts[M]}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{L}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def fingerprint_sql(d: str, text: str) -> str:
    """Normalized-document fingerprint: md5 over lowercased,
    whitespace-collapsed text (the dedup-key normalization step)."""
    norm = D.regexp_replace(d, f"lower(trim({text}))", "\\s+", " ")
    return f"md5({norm})"


def rolling_hash_sql(d: str, text: str, mod: int = 1 << 40, mult: int = 33,
                     ltoks: str | None = None) -> str:
    """Polynomial rolling hash over tokens (order-sensitive fingerprint).

    Folded as acc*mult + tokenhash (mod 2^40) so intermediate values stay
    < 2^46 — exact in BIGINT arithmetic in both engines.
    """
    toks = ltoks or D.split_ws(d, f"lower({text})")
    tok_h = D.hash_long(d, "x", "rh", 1, 10)
    if d == D.SPARK:
        return (f"aggregate({toks}, CAST(0 AS BIGINT), "
                f"(acc, x) -> (acc * {mult} + {tok_h}) % {mod})")
    # explicit NULL arm: Spark's aggregate(NULL, ...) is NULL, but DuckDB's
    # list_prepend(0, NULL) is [0] so list_reduce would return 0 — an
    # engine/oracle divergence for NULL text (same contract token_count_sql
    # defends)
    return (f"CASE WHEN {text} IS NULL THEN NULL ELSE "
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform({toks}, x -> {tok_h})), "
            f"(acc, x) -> (acc * {mult} + x) % {mod}) END")


def col(sql_builder, column: str, **kw) -> Column:
    """Spark Column from any builder in this module."""
    return F.expr(sql_builder(D.SPARK, column, **kw))

